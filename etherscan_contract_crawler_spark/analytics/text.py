"""Text analysis operators over a documents table — all built-in functions.

Language-ID (stopword-hit heuristic), quality scoring, token counting,
document fingerprinting. The constants here are shared with the DuckDB
oracle SQL (generated from the same lists) so both sides compute the same
deterministic answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _hash60, normalized_words

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sie"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
}

TOKEN_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[.,!?;:]"


def lang_hits(text_col: str = "text"):
    """Per-language distinct stopword hit counts."""
    words = normalized_words(text_col)
    return {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in STOPWORDS.items()
    }


def lang_id(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """argmax language by stopword hits; ties broken by language name asc;
    'unknown' when nothing hits. ``keep_cols`` rides extra input columns
    through the projection (same passthrough as :func:`quality_score`)."""
    hits = lang_hits(text_col)
    best = F.lit("unknown")
    best_n = F.lit(0)
    for lang in sorted(STOPWORDS, reverse=True):  # reverse so earlier name wins ties
        cond = hits[lang] >= F.greatest(best_n, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, hits[lang]).otherwise(best_n)
    return docs.select(
        F.col(key_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        best.alias("lang_guess"),
        best_n.cast("int").alias("hits"),
    )


def token_count(docs: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(key_col).alias("doc_id"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_RE)).cast("long").alias("n_tokens"),
    )


def quality_score(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Length/punctuation/stopword features -> a [0,1] quality score.

    score = 0.4*min(len/500,1) + 0.3*stopword_ratio_capped + 0.3*(1-punct_ratio)
    (deterministic, shared formula with the SQL oracle).

    ``keep_cols`` rides extra input columns through the projection so
    downstream rollups (token_budget groups by lang) never need a
    corpus×corpus self-join on doc_id just to reattach a column the scan
    already had."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.regexp_count(t, F.lit(TOKEN_RE))
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    en_hits = lang_hits(text_col)["en"]
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    stop_ratio = F.least(en_hits / 5.0, F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(F.lit(0.0))
    score = F.round(0.4 * len_score + 0.3 * stop_ratio + 0.3 * (1.0 - punct_ratio), 6)
    return docs.select(
        F.col(key_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        score.alias("quality"),
    )


def fingerprint(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Normalization-stable document fingerprint: md5 of
    lower(collapse_whitespace(text)) — the F4+F3 chain
    (solidity-naive-checksum.py:6-15) applied to documents.

    ``keep_cols`` rides extra input columns through (same passthrough as
    :func:`quality_score` — composers never need a corpus self-join on
    doc_id just to reattach a column the scan already had)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(key_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.md5(norm).alias("fingerprint"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Schleimer et al., MOSS).

    Every character k-gram of the normalized text is hashed; each sliding
    window of ``w`` consecutive gram hashes contributes its minimum; the
    distinct set of selected hashes is the document fingerprint. Two docs
    sharing a long-enough substring share fingerprints regardless of offset.

    Plan shape: one explode (positions), one frame window (min over
    ``rowsBetween(0, w-1)`` within doc ordered by pos), one distinct —
    all JVM-side; the explode factor (~doc length) is the scale cost and is
    bounded by truncating inputs upstream when only a sketch is needed.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    grams = docs.select(
        F.col(key_col).alias("doc_id"),
        norm.alias("_norm"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
    ).select(
        "doc_id", "pos", _hash60(F.substring(F.col("_norm"), F.col("pos"), k)).alias("gh")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.select("doc_id", F.min("gh").over(win).alias("fp"))
        .distinct()
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 3,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition — the Gopher/FineWeb quality signal: the
    fraction of word n-grams that are duplicates of an earlier n-gram in
    the same document (high => templated/spammy text a curator drops).

    Plan shape: a PURE PROJECTION — the n-gram array is built with
    ``sequence``/``transform``, totals via ``size`` and
    ``size(array_distinct(...))``; no explode, no shuffle, full codegen.
    At 100 TB this runs at scan speed and the filter a curator derives
    from it pushes into the same scan.

    Returns (doc_id, n_words, n_grams, n_distinct, rep_ratio) with
    rep_ratio = 1 - n_distinct/n_grams (0 for docs too short to have a
    single n-gram), rounded to 6 so the DuckDB oracle hashes identically
    (exact rational of two ints — deterministic on both sides).
    """
    # words and grams are materialized as COLUMNS between projections:
    # inside higher-order lambdas (and across multi-reference projections)
    # Spark does no common-subexpression elimination, so inlining the
    # split/transform expressions would re-run them once per reference
    # (CollapseProject keeps the layers apart because the producing
    # expressions are non-cheap and multiply referenced)
    from .dedup import gram_array

    worded = docs.select(
        F.col(key_col).alias("doc_id"), normalized_words(text_col).alias("_w")
    )
    grams = gram_array(n)
    grammed = worded.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        grams.alias("_g"),
    ).select(
        "doc_id",
        "n_words",
        F.size("_g").cast("long").alias("n_grams"),
        F.size(F.array_distinct("_g")).cast("long").alias("n_distinct"),
    )
    return grammed.select(
        "doc_id",
        "n_words",
        "n_grams",
        "n_distinct",
        F.when(
            F.col("n_grams") > 0,
            F.round(1.0 - F.col("n_distinct") / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 2,
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a doc's distinct
    n-grams appear in NO other document (document frequency == 1).

    The cross-document counterpart of repetition_stats' within-doc
    signal: boilerplate-heavy pages score near 0, genuinely novel text
    near 1 — a standard pretraining-corpus quality axis that a per-doc
    pass cannot compute (it needs the corpus-wide df table).

    Scale design: reuses dedup.shingle_df (distinct (doc, gram) pairs —
    the CSE-in-lambda and sequence(1,0) traps handled once there), then
    ONE gram-keyed aggregate for df and ONE gram-keyed join back — the
    same key, so AQE plans them as one co-partitioned stage; ubiquitous
    grams skew the join's build rows but carry a 1-row df side, which
    AQE's skew-join split handles without a salt. Final doc-keyed
    aggregate is map-side combinable. Docs with < n words have no grams
    and are absent on both engine and oracle sides (pinned semantics).
    """
    from .dedup import shingle_df

    pairs = shingle_df(docs, n=n, key_col=key_col)
    df_tab = pairs.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        pairs.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_grams"), 4).alias("novelty"),
        )
    )


def oov_rate(
    docs: DataFrame,
    vocab_size: int = 100,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-K vocab.

    Tokenizer-coverage QA: fix the vocabulary to the corpus's ``vocab_size``
    most frequent tokens (ties at the cut broken lexically, so the vocab —
    and hence every rate — is engine-invariant), then score each document
    by the share of its token OCCURRENCES outside that vocabulary.

    Scale design: the token-count aggregate is map-side combinable; the
    top-K is ``orderBy().limit(K)`` = TakeOrderedAndProject (per-partition
    heaps + driver merge of K rows — no global sort); the vocab is
    broadcast so the membership join never shuffles the token stream; the
    final doc aggregate combines map-side. Vocab size is a constant, so
    the broadcast is bytes regardless of corpus scale.
    """
    from .dedup import normalized_words

    tok = docs.select(
        F.col(key_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("token"),
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(vocab_size)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


def boilerplate_strip(
    docs: DataFrame,
    domain_col: str = "domain",
    key_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.6,
    min_pages: int = 3,
) -> DataFrame:
    """Within-domain line-level boilerplate removal (the CCNet/RefinedWeb
    preprocessing step): a line that appears on >= ``min_frac`` of a
    domain's pages is template chrome (nav bars, footers, cookie banners),
    not content — drop it from every page and reassemble the survivors in
    original line order. Domains with fewer than ``min_pages`` pages are
    left untouched (no statistical basis to call anything a template).

    This is deliberately NOT :func:`~..analytics.dedup.passage_dedup`:
    that one drops verbatim passages duplicated ACROSS the corpus; this
    one is keyed by (domain, line) — the shuffle key is domain-local, the
    thresholds are per-domain fractions, and a line that is common on one
    site but unique corpus-wide is still stripped.

    Shape: posexplode the line split (per-row work bounded by page size),
    ONE hash agg on (domain, line) for line document-frequency (map-side
    partials collapse each page's repeats), a tiny per-domain page count
    broadcast onto it, a left join marking template lines — AQE broadcasts
    the template set when it is small, falls back to the co-partitioned
    shuffle join when a giant domain makes it big — and ONE per-doc agg
    computing count, boiler count, and the in-order reassembly together
    (collect_list skips the NULLed template rows).

    Output: (key_col, n_lines, n_boiler_lines, kept_text).
    """
    k, d = F.col(key_col), F.col(domain_col)
    lines = docs.select(
        k.alias("_k"), d.alias("_d"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    )
    pages = docs.groupBy(d.alias("_d")).agg(
        F.count_distinct(k).alias("_n_pages")
    )
    boiler = (
        lines.groupBy("_d", "_line")
        .agg(F.count_distinct("_k").alias("_df"))
        .join(F.broadcast(pages), "_d")
        .where((F.col("_n_pages") >= min_pages)
               & (F.col("_df") >= F.lit(float(min_frac)) * F.col("_n_pages")))
        .select("_d", "_line", F.lit(True).alias("_b"))
    )
    marked = lines.join(boiler, ["_d", "_line"], "left")
    keep = F.when(F.col("_b").isNull(), F.struct("_idx", "_line"))
    return (
        marked.groupBy("_k")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_boiler_lines"),
            F.concat_ws(
                "\n",
                F.transform(F.array_sort(F.collect_list(keep)),
                            lambda s: s["_line"]),
            ).alias("kept_text"),
        )
        .withColumnRenamed("_k", key_col)
    )


def floor_log2_ladder(count_col, max_exp: int = 20):
    """Exact ``floor(log2(c))`` (0 for c < 2, capped at ``max_exp``) as a
    threshold CASE ladder — NO floating log anywhere, so the score is
    bit-identical across engines/partitionings (float ln differs in the
    last ulp between libms, and a sum of per-row logs is
    evaluation-order-dependent; integer terms summed as BIGINT are not)."""
    c = F.col(count_col) if isinstance(count_col, str) else count_col
    expr = None
    for e in range(max_exp, 0, -1):
        cond = c >= (1 << e)
        expr = F.when(cond, e) if expr is None else expr.when(cond, e)
    return expr.otherwise(0)


def bigram_familiarity(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_exp: int = 20,
) -> DataFrame:
    """CCNet-style fluency proxy: score each document by how FAMILIAR its
    word bigrams are in the corpus — the mean floor-log2 corpus frequency
    of its bigrams. Gibberish, boilerplate-free spam, and wrong-language
    text sit in rare-bigram territory (low score); fluent in-distribution
    text rides common constructions (high score). The integer-ladder log
    (see :func:`floor_log2_ladder`) keeps the whole score exact: per-doc
    ``fam_sum`` is a BIGINT sum, so no float-association drift between
    engines or partitionings — the trap a true ln-perplexity would hit.

    Shape: gram explode (multiplicity kept — frequency weighting is the
    point), ONE hash agg on the bigram for corpus counts, a co-partitioned
    join back on the same key (no extra exchange under AQE), one per-doc
    agg. Documents with fewer than two words have no bigrams and no row.
    """
    worded = docs.select(
        F.col(key_col).alias("doc_id"), normalized_words(text_col).alias("_w")
    )
    from .dedup import gram_array

    bi = worded.select("doc_id", F.explode(gram_array(2)).alias("bg"))
    cnt = (
        bi.groupBy("bg")
        .agg(F.count("*").alias("_c"))
        .select("bg", floor_log2_ladder("_c", max_exp).alias("_lvl"))
    )
    return (
        bi.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_lvl").cast("long").alias("fam_sum"),
        )
        .select(
            "doc_id", "n_bigrams", "fam_sum",
            F.round(F.col("fam_sum") / F.col("n_bigrams"), 4).alias("familiarity"),
        )
    )


def zipf_slope(
    docs: DataFrame,
    k: int = 100,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Zipf rank-frequency fit per group: least-squares slope of
    ln(frequency) on ln(rank) over the top-``k`` tokens (natural text sits
    near -1; corrupted / machine-generated corpora drift, which makes the
    slope a cheap corpus-health gate in a curation pipeline).

    Output: (group, zipf_slope, n_terms, top_token). Slope rounded to 6
    decimals so the float is comparison-stable across engines.

    Plan shape at 100 TB: the token count is one hash agg with map-side
    partials (vocabulary-sized output, not corpus-sized); the literal
    ``rk <= k`` conjunct under the per-group window plants a map-side
    Partial WindowGroupLimit below the exchange (same shape as
    top_tokens); the regression is a second vocabulary-bounded agg via
    regr_slope — no sort wider than a group's top-k ever exists.
    """
    words = docs.select(
        F.col(group_col).alias("grp"), normalized_words(text_col).alias("_w")
    )
    counts = (
        words.select("grp", F.explode("_w").alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("grp", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("n").desc(), F.col("token"))
    topk = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return (
        topk.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.round(
                F.regr_slope(F.log(F.col("n").cast("double")), F.log(F.col("rk").cast("double"))),
                6,
            ).alias("zipf_slope"),
            F.count("*").cast("long").alias("n_terms"),
            F.min_by("token", F.col("rk")).alias("top_token"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs via inverted-index join — the
    lexical complement of the embedding-cosine near-dup family (catches
    topical/keyword overlap dense vectors may smooth away; the classic
    all-pairs-similarity shape of Bayardo et al. 2007).

    Weights are tf * ln(N/df) rounded to 6 (the cross-engine float
    convention); norms use the SAME rounded weights so cosine is
    reproducible bit-for-bit against the SQL oracle. The pair join is
    TERM-bucketed (docs sharing no token never meet); ``max_df`` drops
    ubiquitous terms from the candidate join only — norms stay exact, the
    reported cosine becomes a lower bound, and the quadratic hot-bucket
    risk is capped, exactly like jaccard_pairs' stop-shingle guard.
    """
    from etherscan_contract_crawler_spark.analytics.dedup import normalized_words

    tok = docs.select(
        F.col(key_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    weighted = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "w",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
        .select("doc_id", "token", "w", "df")
    )
    norms = weighted.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    idx = weighted if max_df is None else weighted.filter(F.col("df") <= max_df)
    a, b = idx.alias("a"), idx.alias("b")
    dots = (
        a.join(b, "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), round_digits))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def c4_clean(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style rule-based cleaning (Raffel et al. 2020, §2.2 — the
    published heuristics, not a model): keep only lines that end in
    terminal punctuation (``. ! ? "``) AND have at least ``min_words``
    words AND don't mention "javascript"; drop the whole page when it
    contains "lorem ipsum" (placeholder text), contains ``{`` (leaked
    code), or keeps fewer than ``min_kept_lines`` lines.

    The reference crawler stores raw page payloads with no cleaning
    (contract_crawler.py:290-314); this is the curation step a training
    pipeline inserts between landing and dedup.

    Scale shape: a pure per-row projection — ``split`` + higher-order
    ``filter``/``transform`` on the line array, all JVM-side inside one
    WholeStageCodegen, ZERO shuffles, ZERO Python. Word counting is done
    on a whitespace-normalized copy of each line so the count is
    delimiter-run-insensitive and bit-identical across engines.

    Output: (key_col, n_lines, n_kept_lines, has_lorem, has_code, keep,
    kept_text) — kept_text preserves original line order.
    """

    def _norm(x):
        return F.trim(F.regexp_replace(x, r"\s+", " "))

    def _is_kept(x):
        nl = _norm(x)
        words = F.when(nl == "", F.lit(0)).otherwise(
            F.size(F.split(nl, " "))
        )
        return (
            nl.rlike('[.!?"]$')
            & (words >= min_words)
            & ~F.lower(nl).contains("javascript")
        )

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, _is_kept)
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_code = F.col(text_col).contains("{")
    return docs.select(
        key_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        has_lorem.alias("has_lorem"),
        has_code.alias("has_code"),
        (
            (F.size(kept) >= min_kept_lines) & ~has_lorem & ~has_code
        ).alias("keep"),
        F.array_join(kept, "\n").alias("kept_text"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, A1.1 — the published
    document-level heuristics, complementing :func:`c4_clean`'s line
    rules): word count in [min_words, max_words]; mean word length in
    [3, 10]; <10% symbol words (``#`` or ``...``); >=80% of words contain
    an alphabetic character; <90% bullet-started lines; <30%
    ellipsis-ended lines; >=2 distinct stop words present.

    Every ratio test is evaluated as an INTEGER cross-multiplication
    (``3*total <= chars <= 10*total``), so verdicts are bit-identical
    across engines and partitionings — no float division anywhere.

    Scale shape: pure per-row projection (split + higher-order
    filter/transform/aggregate), ZERO shuffles, full codegen — at 100 TB
    this runs at scan speed and the ``keep`` predicate pushes into the
    same scan as every other curation filter.

    Output: (key_col, n_words, char_sum, alpha_words, sym_words, n_stop,
    n_lines, bullet_lines, ellipsis_lines, keep).
    """
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(t, r"\s+", " "))
    words = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    low = F.transform(words, F.lower)
    n_words = F.size(words)
    char_sum = F.aggregate(
        words, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    alpha = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    sym = F.size(
        F.filter(words, lambda x: x.contains("#") | x.contains("..."))
    )
    n_stop = sum(
        F.array_contains(low, w).cast("int") for w in GOPHER_STOPWORDS
    )
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullets = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^[-*]"))
    )
    ellipsis = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"\.\.\.$"))
    )
    keep = (
        n_words.between(min_words, max_words)
        & (char_sum >= 3 * n_words)
        & (char_sum <= 10 * n_words)
        & (10 * alpha >= 8 * n_words)
        & (10 * sym < n_words)
        & (10 * bullets < 9 * n_lines)
        & (10 * ellipsis < 3 * n_lines)
        & (n_stop >= 2)
    )
    return docs.select(
        key_col,
        n_words.cast("long").alias("n_words"),
        char_sum.cast("long").alias("char_sum"),
        alpha.cast("long").alias("alpha_words"),
        sym.cast("long").alias("sym_words"),
        n_stop.cast("long").alias("n_stop"),
        n_lines.cast("long").alias("n_lines"),
        bullets.cast("long").alias("bullet_lines"),
        ellipsis.cast("long").alias("ellipsis_lines"),
        keep.alias("keep"),
    )


def hashed_quality_score(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet/fastText-style LINEAR quality classifier over hashed
    bag-of-words features: every token hashes into one of 256 buckets and
    contributes that bucket's weight; the document is kept when its total
    weight is non-negative. Production pipelines load trained weights —
    here the weight table is the fixed pseudo-random map
    ``w(b) = (b*37) % 101 - 50`` (centi-units, -50..50) so the whole
    operator, hash included, is reproducible in ANSI SQL for the oracle.

    Portability contract (why md5 and not xxhash/murmur): the bucket is
    derived from the first two hex digits of md5(token) via position-in-
    alphabet arithmetic — the only hash both Spark and DuckDB evaluate
    bit-identically. Scores are INTEGER sums (centi-weights), never
    divided, so no float or integer-division-rounding drift exists
    between engines; the keep rule compares the sum against zero.

    Scale shape: pure projection — split/filter/aggregate higher-order
    functions run inside whole-stage codegen, ZERO shuffles, no UDF; at
    100 TB this is a map-only pass that composes with the scan.
    """
    hexpos = "instr('0123456789abcdef', {c}) - 1"
    bucket = (
        "(16 * (" + hexpos.format(c="substring(md5(t), 1, 1)") + ") + ("
        + hexpos.format(c="substring(md5(t), 2, 1)") + "))"
    )
    toks = f"filter(split(lower({text_col}), '\\\\s+'), x -> x <> '')"
    score = F.expr(
        f"aggregate({toks}, 0L, (acc, t) -> acc"
        f" + ({bucket} * 37 % 101 - 50))"
    )
    return docs.select(
        key_col,
        F.expr(f"size({toks})").cast("long").alias("n_tokens"),
        score.cast("long").alias("score_centi"),
        (
            (F.expr(f"size({toks})") > 0) & (score >= 0)
        ).alias("keep"),
    )


def caption_quality(
    docs: DataFrame, key_cols: tuple = ("doc_id",), alt_col: str = "alt"
) -> DataFrame:
    """CommonPool/LAION-style caption (alt-text) quality gate for
    image-text pairs: drop captions that are filenames, too short/long,
    single-word, or mostly non-alphabetic — the text-side filters DataComp
    applies before CLIP-score filtering is paid for.

    Rules (each surfaced as its own column so downstream mixes can weigh
    them; every ratio an integer cross-multiplication, no floats):
    ``n_chars`` in [5, 200], ``n_words`` >= 2, NOT a bare image filename
    (``name.ext`` with no spaces, ext in the web image set), and
    ``2 * n_alpha >= n_chars``. Pure projection — split/regex in
    whole-stage codegen, zero shuffles, scan-speed at 100 TB.
    """
    a = F.col(alt_col)
    n_chars = F.length(a)
    words = F.filter(F.split(a, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(a, r"[^A-Za-z]", ""))
    is_filename = a.rlike(
        r"(?i)^[\w.-]+\.(jpe?g|png|gif|webp|bmp|tiff?)$")
    keep = (
        n_chars.between(5, 200)
        & (n_words >= 2)
        & (~is_filename)
        & (2 * n_alpha >= n_chars)
    )
    return docs.select(
        *key_cols,
        a.alias("alt"),
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_alpha.cast("long").alias("n_alpha"),
        is_filename.alias("is_filename"),
        keep.alias("keep"),
    )


def token_dist_shift(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-distribution shift vs the whole corpus (KL divergence).

    A domain/source whose unigram distribution diverges hard from the
    corpus is either a different register (code, logs, boilerplate farms)
    or machine-generated spam — both are exactly what a training-data
    curator wants surfaced before sampling weights are chosen. Computes
    ``KL(P_group || P_corpus) = Σ_w p(w)·ln(p(w)/q(w))`` over whitespace
    words (normalized_words — the engine-wide F4 rule), which is finite by
    construction: every group token is a corpus token, so q(w) > 0.

    Returns (group, n_tokens, kl_nats) — kl rounded to 6 decimals in both
    the engine and the SQL oracle so cross-engine float-summation order
    cannot flip the comparison.

    Scale notes: one explode → ONE shuffle on token for the (group, token)
    counts (map-side combinable); the corpus-wide q(w) table is derived
    from the SAME (group, token) aggregate by a second, smaller agg —
    tokens only, no second pass over the corpus — then joined back on
    token (both sides carry the token-hash partitioning, AQE reuses the
    exchange). Group totals are a window over the grouped counts, not the
    raw tokens. Nothing touches the documents twice.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(normalized_words(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    gt = toks.groupBy("grp", "tok").agg(F.count("*").alias("c")).persist()
    corpus = gt.groupBy("tok").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").cast("double").alias("ct"))
    w_grp = Window.partitionBy("grp")
    joined = (
        gt.withColumn("gtot", F.sum("c").over(w_grp))
        .join(corpus, on="tok")
        .crossJoin(F.broadcast(corpus_tot))
    )
    p = F.col("c") / F.col("gtot")
    q = F.col("cc") / F.col("ct")
    out = (
        joined.groupBy("grp")
        .agg(
            F.max("gtot").cast("long").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
        )
        .select(F.col("grp").alias(group_col), "n_tokens", "kl_nats")
        # group-cardinality result: materialize it eagerly so the shared
        # (grp, tok) aggregate can be released before return (pagerank's
        # persist/localCheckpoint/unpersist pattern)
        .localCheckpoint(eager=True)
    )
    gt.unpersist()
    return out


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 3,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top-k PMI-ranked bigram collocations over the corpus.

    The vocabulary-mining primitive (Church & Hanks 1990): pointwise
    mutual information ``ln(p(ab) / (p(a)*p(b)))`` over word bigrams finds
    the multi-word units ("new york", "machine learning") a tokenizer or
    phrase-aware dedup wants as single symbols. ``min_count`` drops the
    hapax bigrams whose PMI is pure noise; ranking is (pmi DESC, gram ASC)
    with pmi rounded to 6 dp in BOTH engines so the k-th boundary can't
    flip on float-summation order.

    Returns (gram, w1, w2, n_pair, pmi) — at most ``top_k`` rows.

    Scale notes: the corpus is parsed ONCE — the normalized word split is
    persisted and both the unigram and bigram hash aggs (map-side
    combinable, the two corpus-sized shuffles) read it; the grand totals
    re-aggregate the COUNT TABLES (token-cardinality), never the corpus.
    The unigram table joins the bigram table twice (w1, w2) — sort-merge
    at scale. The final top-k is a TakeOrdered (per-partition top-k, then
    a k-sized driver merge), never a global sort; the k-row result is
    eagerly checkpointed so the persisted split releases before return.
    """
    from .dedup import gram_array

    base = docs.select(normalized_words(text_col).alias("_w")).persist()
    words = base.select(
        F.explode(F.filter(F.col("_w"), lambda x: x != F.lit(""))).alias("w")
    )
    uni = words.groupBy("w").agg(F.count("*").alias("cu")).persist()
    n_uni = uni.agg(F.sum("cu")).collect()[0][0] or 1
    bi = (
        base.select(F.explode(gram_array(2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cp"))
        .persist()
    )
    n_bi = bi.agg(F.sum("cp")).collect()[0][0] or 1
    kept = (
        bi.filter(F.col("cp") >= int(min_count))
        .withColumn("w1", F.split("gram", " ").getItem(0))
        .withColumn("w2", F.split("gram", " ").getItem(1))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("cp") / F.lit(float(n_bi)))
            / (
                (F.col("c1") / F.lit(float(n_uni)))
                * (F.col("c2") / F.lit(float(n_uni)))
            )
        ),
        6,
    )
    out = (
        kept.join(u1, on="w1")
        .join(u2, on="w2")
        .select(
            "gram",
            "w1",
            "w2",
            F.col("cp").cast("long").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("gram"))
        .limit(int(top_k))
        .localCheckpoint(eager=True)
    )
    bi.unpersist()
    uni.unpersist()
    base.unpersist()
    return out


def bpe_merge_mine(
    docs: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """One BPE merge step over the corpus: the most frequent adjacent
    character pairs within words (Sennrich et al. 2016, the training loop's
    inner statistic). A tokenizer trainer runs this repeatedly, merging the
    winner and recounting; the heavy lift — the corpus-wide pair count —
    is exactly this operator, so its plan shape is what decides whether
    vocabulary training is feasible at 100 TB.

    Counts use word FREQUENCIES (count words once, multiply pair counts by
    word frequency — the standard dictionary trick) so the corpus-sized
    explode is over DISTINCT words, not running text: at web scale the
    distinct-word table is orders of magnitude smaller than the token
    stream (Heaps' law), and that is the entire scaling story here.

    Returns (pair, left, right, n) — the ``top_k`` most frequent adjacent
    pairs, ties broken by pair text ascending.

    Scale notes: words hash-agg to (word, freq) — the ONE corpus-sized
    shuffle, map-side combinable; pairs explode off the distinct-word
    table (Generate over word length); the pair rollup is
    pair-cardinality. Top-k is TakeOrdered. All integer counts — the
    oracle hashes bit-exactly.
    """
    words = (
        docs.select(F.explode(normalized_words(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    n_pairs = F.greatest(F.length("w") - 1, F.lit(0))
    pair_arr = F.when(
        n_pairs > 0,
        F.transform(
            F.sequence(F.lit(1), n_pairs),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    pairs = words.select("freq", F.explode(pair_arr).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .select(
            "pair",
            F.substring("pair", 1, 1).alias("left"),
            F.substring("pair", 2, 1).alias("right"),
            "n",
        )
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(int(top_k))
    )


def lm_perplexity_filter(
    docs: DataFrame,
    ref_mod: int = 10,
    max_neg_logp: float = 9.0,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality filter, self-trained: score every document's
    bigrams against an add-one-smoothed bigram model counted over a
    deterministic REFERENCE slice of the corpus (``doc_id % ref_mod == 0``
    — CCNet trains on Wikipedia; the synthetic analog is a fixed clean
    split), and flag documents whose mean negative log-probability exceeds
    ``max_neg_logp`` (high perplexity = unlike the reference = drop
    candidate). Scoring: mean over doc bigrams of
    ``-ln((c2(w1,w2)+1) / (c1(w1)+V))`` with V = reference vocabulary size.

    Returns ``(doc_id, n_bigrams, neg_logp, keep)`` for every doc with at
    least one bigram. ``neg_logp`` is the mean of PER-BIGRAM values rounded
    to 6 dp, final mean rounded to 4 dp — double summation error
    (~1e-13 * n) cannot reach the rounded digit, so the result is
    partition-order-independent and the DuckDB oracle matches exactly.

    Scale shape: the count tables are VOCABULARY-sized (Heaps' law —
    millions of rows at 100 TB, not corpus-sized); the scoring join
    shuffles the corpus bigram stream on (w1, w2) — the standard
    inverted-index join every n-gram operator here pays once. V rides a
    broadcast single-row cross join. No UDFs, no driver collects.

    An empty reference slice (no ``doc_id % ref_mod == 0`` doc with a
    bigram) leaves no model: V = 0 and every denominator is 0. Under ANSI
    mode (Spark's default) the scoring job then fails with DIVIDE_BY_ZERO;
    with ``spark.sql.ansi.enabled=false`` every doc gets NULL ``neg_logp``
    and ``keep``, as in the DuckDB oracle.
    """
    words = docs.select(
        F.col(doc_col).alias("doc_id"), normalized_words(text_col).alias("_w")
    ).filter(F.size("_w") >= 2)
    bi = words.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("_w"), i + 1).alias("w1"),
                    F.element_at(F.col("_w"), i + 2).alias("w2"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    ref = bi.filter(F.col("doc_id") % ref_mod == 0)
    c2 = ref.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = ref.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = ref.select(
        F.explode(F.array("w1", "w2")).alias("w")
    ).agg(F.count_distinct("w").alias("v"))
    scored = (
        bi.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                ),
                6,
            ).alias("_nlp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("_nlp"), 4).alias("neg_logp"),
    )
    return agg.select(
        "doc_id", "n_bigrams", "neg_logp",
        (F.col("neg_logp") <= max_neg_logp).alias("keep"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility audit: tokens-per-word and bytes-per-token per
    language — the standard tokenizer-evaluation metrics (a fertility far
    above ~1.3 on a language means the vocabulary under-serves it and its
    effective context window shrinks; the number multilingual tokenizer
    papers report per language). Token rule = the engine's shared TOKEN_RE;
    words = whitespace segmentation; bytes = octet length.

    Ratios are integer cross-multiplied into the output as exact integer
    totals plus 6-dp rounded ratios, so the oracle compares exactly.
    One map-side-combinable hash agg on lang; pure scan projections below
    it — zero extra shuffles at any corpus size.

    Returns ``(lang, n_docs, n_words, n_tokens, n_bytes, fertility,
    bytes_per_token)``.
    """
    t = F.col(text_col)
    words = F.size(
        F.filter(
            F.split(F.trim(t), r"\s+"), lambda w: w != F.lit("")
        )
    )
    per = docs.select(
        F.col(lang_col).alias("lang"),
        words.cast("long").alias("_w"),
        F.regexp_count(t, F.lit(TOKEN_RE)).cast("long").alias("_t"),
        F.octet_length(t).cast("long").alias("_b"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_t").alias("n_tokens"),
        F.sum("_b").alias("n_bytes"),
    )
    return agg.select(
        "lang", "n_docs", "n_words", "n_tokens", "n_bytes",
        F.round(F.col("n_tokens") / F.col("n_words"), 6).alias("fertility"),
        F.round(F.col("n_bytes") / F.col("n_tokens"), 6).alias(
            "bytes_per_token"
        ),
    )
