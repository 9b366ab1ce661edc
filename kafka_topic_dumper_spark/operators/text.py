"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.10).

Language ID (stopword/character heuristic), quality scoring, token
statistics, and document fingerprinting — all pure JVM-side expressions
(split / filter / regexp / md5), zero Python in the row path, so every
one of them whole-stage-codegens and scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions.portable_hash import (
    h32_duckdb_sql,
    h32_py,
    h32_spark_sql,
    h60_duckdb_sql,
    h60_spark_sql,
)
from kafka_topic_dumper_spark.functions.parallelism import spread_input
from kafka_topic_dumper_spark.sources.tables import load_table

# Marker stopwords per language. Tiny on purpose: the operator
# demonstrates the (count markers per language → argmax) plan shape;
# swapping in full lists is data, not code.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "les", "des", "et", "une", "est", "pour", "dans", "sur", "pas"],
}
_CJK = "[一-鿿]"  # U+4E00..U+9FFF


def _tokens() -> Column:
    return F.split(F.lower(F.col("text")), r"\s+")


CONTAMINATION_K = 4
CONTAMINATION_PROBE_MOD = 25
# Default global token budget for the greedy quality-first selection —
# ONE definition consumed by both token_budget_selection and its
# DuckDB oracle (code-review r7: a literal in each desynchronizes).
TOKEN_BUDGET_DEFAULT = 15_000


def contamination_overlap(
    docs: DataFrame,
    k: int = CONTAMINATION_K,
    probe_mod: int = CONTAMINATION_PROBE_MOD,
) -> DataFrame:
    """Benchmark decontamination: k-gram overlap of every document
    against a probe ("benchmark") subset — the check every serious
    training-data pipeline runs so eval sets don't leak into training
    corpora. Here the probe set is the deterministic doc_id % probe_mod
    slice; in production it is the actual benchmark suite, which is
    always TINY relative to the corpus — exactly why the plan below
    broadcasts the probe index and never shuffles the corpus:

    1. one pass tokenizes and hashes distinct k-grams per doc
       (JVM array lambdas, 60-bit portable md5-prefix keys);
    2. the probe docs' gram index (benchmark-sized) broadcasts;
    3. a broadcast hash join + groupBy counts shared grams — the
       corpus is streamed map-side, the only exchange is the final
       per-(doc, probe) partial-agg combine.

    Outputs are integers only (n_common, probe_ngrams) — callers
    derive the contamination ratio; emitting the division would
    reintroduce the cross-engine double-rounding trap
    (see q10's docstring in operators/analytics.py).
    """
    grams = (
        docs.select("doc_id", _tokens().alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= k,
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(0), F.size("toks") - k),
                            lambda i: F.concat_ws(
                                " ", *[F.col("toks")[i + j] for j in range(k)]
                            ),
                        )
                    ),
                ).otherwise(F.expr("CAST(array() AS array<string>)"))
            ).alias("g"),
        )
        .select("doc_id", F.expr(h60_spark_sql("g")).alias("gh"))
        # per-doc distinctness is already guaranteed by array_distinct
        # BEFORE the explode — a global .distinct() here would re-shuffle
        # the whole exploded corpus for nothing
    )
    probe = grams.filter(F.col("doc_id") % probe_mod == 0).select(
        F.col("doc_id").alias("probe_id"), "gh"
    )
    probe_counts = probe.groupBy("probe_id").agg(
        F.count("*").alias("probe_ngrams")
    )
    hits = (
        grams.join(F.broadcast(probe), "gh")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_common"))
    )
    return hits.join(F.broadcast(probe_counts), "probe_id").select(
        "doc_id", "probe_id", "n_common", "probe_ngrams"
    )


def _count_in(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(words))).cast("integer")


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: CJK-character presence short-circuits to
    zh; otherwise argmax of per-language marker-stopword counts with a
    fixed preference order on ties (en > es > de > fr > und).

    Shape (r19, guide §2.5 + §1.2 step 2): this row is a pure
    scan→Project plan, so ALL of its cost is the projection —
    which (a) ran as ONE task on the single-split bench-scale scan
    (spread_input fixes that; no-op on wide deployment scans), and
    (b) is CodegenFallback (the array ``filter`` lambdas), so Spark's
    codegen-level subexpression elimination never runs and the CASE's
    repeated score references re-evaluated the stopword filters up to
    13× per row. The scores are hoisted into their OWN projection —
    CollapseProject declines to inline non-cheap expressions referenced
    more than once, so each filter now runs exactly once per row.
    Value-identical: same expressions, same tie order."""
    toks = spread_input(docs.select("doc_id", "lang", "text")).withColumn(
        "toks", _tokens()
    )
    scored = toks.select(
        "doc_id",
        "lang",
        "text",
        *[
            _count_in(F.col("toks"), words).alias(f"_s_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    scores = {lang: F.col(f"_s_{lang}") for lang in STOPWORDS}
    s_zh = F.length(F.regexp_replace(F.col("text"), f"[^{_CJK[1:-1]}]", "")).cast(
        "integer"
    )
    pred = (
        F.when(s_zh > 0, "zh")
        .when(
            (scores["en"] >= F.greatest(scores["es"], scores["de"], scores["fr"]))
            & (scores["en"] > 0),
            "en",
        )
        .when((scores["es"] >= F.greatest(scores["de"], scores["fr"])) & (scores["es"] > 0), "es")
        .when((scores["de"] >= scores["fr"]) & (scores["de"] > 0), "de")
        .when(scores["fr"] > 0, "fr")
        .otherwise("und")
    )
    return scored.select(
        "doc_id", pred.alias("pred_lang"), F.col("lang").alias("labeled_lang")
    )


def quality_score(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristic. The
    formula is arbitrary but fixed; what matters is the plan shape —
    single projection pass, no shuffle. ``extra_cols`` carries
    pass-through columns (e.g. ``source`` for the per-source
    calibration) so consumers don't pay a doc_id join to get them
    back.

    r19 (same pattern as :func:`lang_id`/:func:`token_stats`): the
    counting primitives are hoisted into their own projection — the
    flat form evaluated ``split(lower(text))`` six times, the stopword
    ``filter`` and the punctuation ``regexp_replace`` twice each, per
    row, because the HOF lambdas make this Project CodegenFallback
    (no codegen subexpression elimination) and CollapseProject cannot
    inline-dedup them. Value-identical: the ratio/score expressions
    consume the hoisted columns unchanged."""
    base = docs.withColumn("_toks", _tokens()).select(
        "doc_id",
        *extra_cols,
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        (
            F.length("text").cast("bigint")
            - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", ""))
        ).cast("bigint").alias("_punct"),
        _count_in(F.col("_toks"), STOPWORDS["en"]).cast("bigint").alias("_sw"),
    )
    n_tokens = F.col("n_tokens")
    punct_ratio = F.col("_punct") / F.col("n_chars")
    sw_ratio = F.col("_sw") / n_tokens
    score = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (1 - punct_ratio) * (
        F.lit(0.5) + F.lit(0.5) * sw_ratio
    )
    return base.select(
        "doc_id",
        *extra_cols,
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def quality_calibrated_rank(docs: DataFrame) -> DataFrame:
    """Per-SOURCE quality calibration: rank every document within its
    source by the heuristic score and flag the top half — the
    FineWeb-style correction for a global quality cutoff silently
    starving whole domains whose score distribution sits lower (a
    global threshold keeps 90 % of one source and 4 % of another; a
    per-source rank keeps comparable fractions). One shuffle keyed by
    source; skewed sources land on AQE. Integer rank over the already
    cross-engine-exact rounded score (ties broken by doc_id) keeps the
    keep decision bit-exact."""
    q = quality_score(docs, extra_cols=("source",)).where(
        F.col("quality_score").isNotNull() & ~F.isnan("quality_score")
    )
    wo = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    wp = Window.partitionBy("source")
    return q.select(
        "doc_id",
        "source",
        F.row_number().over(wo).cast("bigint").alias("rank_in_source"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_source"),
    ).withColumn(
        "keep_top_half",
        (F.col("rank_in_source") * 2 <= F.col("n_source")).cast("int"),
    )


def token_budget_selection(
    docs: DataFrame, budget_tokens: int = TOKEN_BUDGET_DEFAULT, buckets: int = 32
) -> DataFrame:
    """Greedy quality-first corpus selection under a global token
    budget (the data-constrained-scaling curation step: keep the best
    documents until the budget is spent). The cumulative token count
    in quality-descending order comes from the SAME two-phase
    distributed prefix sum the packing capstone uses
    (packing.ordered_prefix_sum keyed on the negated integer
    centi-score, doc_id tie-break) — NOT a single-partition global
    window, which is the classic cumulative-sum scale trap. A doc is
    kept iff its inclusive cumulative count fits the budget."""
    from kafka_topic_dumper_spark.operators.packing import ordered_prefix_sum

    q = (
        quality_score(docs)
        .where(F.col("quality_score").isNotNull() & ~F.isnan("quality_score"))
        .select(
            "doc_id",
            "n_tokens",
            (-F.round(F.col("quality_score") * 10000))
            .cast("bigint")
            .alias("qkey"),
        )
    )
    ps = ordered_prefix_sum(q, "qkey", "n_tokens", tie="doc_id", buckets=buckets)
    if ps is None:
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, n_tokens long, cum_tokens long"
        )
    return (
        ps.withColumn(
            "cum_tokens", (F.col("s") + F.col("n_tokens")).cast("bigint")
        )
        .where(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "n_tokens", "cum_tokens")
    )


def pareto_frontier(docs: DataFrame) -> DataFrame:
    """Skyline / Pareto-frontier curation: the documents NOT dominated
    on (shorter ``n_chars``, more ``n_distinct_tokens``) — the
    two-objective "most lexical diversity per byte" selection a
    curation pipeline uses when no single score ranks the corpus. A doc
    is dominated iff some other doc is ≤ its length AND ≥ its
    diversity, strictly better in at least one; equal-coordinate docs
    never dominate each other (both survive).

    Plan shape — NOT the quadratic dominance test: aggregate to one
    row per distinct length (max diversity per length group, one
    map-side-combinable shuffle), take the EXCLUSIVE prefix max over
    lengths via the two-phase distributed scheme
    (:func:`~kafka_topic_dumper_spark.operators.packing.ordered_prefix_max`
    — no single-partition global window), keep length groups whose max
    strictly beats every shorter group, then join survivors back. The
    oracle IS the naive quadratic NOT EXISTS, so the driver
    differential proves the O(n log n) frontier equals the O(n²)
    definition. Both metrics are integers — bit-exact cross-engine."""
    from kafka_topic_dumper_spark.operators.packing import ordered_prefix_max

    m = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(_tokens())).cast("bigint").alias(
            "n_distinct_tokens"
        ),
    )
    grp = m.groupBy("n_chars").agg(
        F.max("n_distinct_tokens").alias("grp_max")
    )
    pm = ordered_prefix_max(grp, "n_chars", "grp_max")
    if pm is None:
        return m.limit(0)
    keep = pm.where(
        F.col("m").isNull() | (F.col("grp_max") > F.col("m"))
    ).select("n_chars", "grp_max")
    return (
        m.join(keep, "n_chars")
        .where(F.col("n_distinct_tokens") == F.col("grp_max"))
        .select("doc_id", "n_chars", "n_distinct_tokens")
    )


CMS_DEPTH = 3
CMS_WIDTH = 64
CMS_TOPK = 25

# word bigrams with duplicates (true occurrence counts — sketches count
# occurrences, not distinct membership); sequence() DESCENDS when the
# doc has < 2 tokens, hence the CASE guard (same hazard as _SHINGLES in
# operators/dedup.py)
_BIGRAMS = (
    "CASE WHEN size({t}) >= 2 THEN "
    "transform(sequence(0, size({t}) - 2), "
    "i -> concat_ws(' ', {t}[i], {t}[i+1])) "
    "ELSE CAST(array() AS array<string>) END"
).format(t="toks")


def cms_bigram_occurrences(docs: DataFrame) -> DataFrame:
    """(bigram, x) occurrence rows (non-distinct — sketches count
    occurrences) with the portable 31-bit hash. Stateless projection,
    so it applies unchanged to a STREAMING DataFrame — the streaming
    CMS row reuses it verbatim."""
    from kafka_topic_dumper_spark.functions.portable_hash import (
        HASH_DOMAIN31,
    )

    return (
        docs.select(_tokens().alias("toks"))
        .select(F.explode(F.expr(_BIGRAMS)).alias("bigram"))
        .withColumn(
            "x", F.expr(f"{h32_spark_sql('bigram')} % {HASH_DOMAIN31}")
        )
    )


def _cms_bucket_array(depth: int, width: int):
    """array<struct<r,bkt>> of the ``depth`` (row, bucket) targets for
    the hash value in column ``x``."""
    from kafka_topic_dumper_spark.functions.portable_hash import (
        MERSENNE61,
        cms_params,
    )

    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.expr(f"(({a} * x + {b}) % {MERSENNE61}) % {width}").alias(
                    "bkt"
                ),
            )
            for i, (a, b) in enumerate(cms_params(depth))
        ]
    )


def cms_counters(
    occ: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """The sketch itself: (r, bkt, c) counters, ≤ depth×width rows.
    A plain groupBy-count, so on a stream it is exactly the unbounded
    complete-mode aggregation whose state IS the sketch."""
    return (
        occ.select(F.explode(_cms_bucket_array(depth, width)).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt"))
        .agg(F.count("*").alias("c"))
    )


def cms_topk(
    occ: DataFrame,
    counters: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOPK,
) -> DataFrame:
    """Top-``k`` keys by sketch estimate (min over the key's ``depth``
    counters, broadcast join against the tiny counter table), exact
    counts alongside to surface the one-sided error."""
    exact = occ.groupBy("bigram", "x").agg(F.count("*").alias("exact"))
    est = (
        exact.select(
            "bigram",
            "exact",
            F.explode(_cms_bucket_array(depth, width)).alias("rb"),
        )
        .select(
            "bigram",
            "exact",
            F.col("rb.r").alias("r"),
            F.col("rb.bkt").alias("bkt"),
        )
        .join(F.broadcast(counters), ["r", "bkt"])
        .groupBy("bigram", "exact")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.orderBy(F.col("est").desc(), "bigram")
        .limit(k)
        .select(
            "bigram",
            F.col("est").cast("bigint").alias("est_count"),
            F.col("exact").cast("bigint").alias("exact_count"),
            (F.col("est") - F.col("exact")).cast("bigint").alias("overcount"),
        )
    )


def cms_heavy_hitters(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOPK,
) -> DataFrame:
    """Heavy hitters via a COUNT-MIN SKETCH (Cormode & Muthukrishnan
    2005) over word-bigram occurrences: ``depth`` universal-hash rows ×
    ``width`` counters; a key's estimate is the MIN of its ``depth``
    counters, always ≥ the true count (one-sided error).

    Why this is the 100 TB frequency path: the sketch aggregate is a
    plain groupBy on (row, bucket) — fully map-side combinable, so each
    executor reduces its splits to AT MOST depth×width rows (192 here)
    before any shuffle, and the merged sketch is the same tiny table no
    matter the corpus size. Estimating then BROADCASTS those 192 rows —
    frequency queries never touch a corpus-sized structure. The exact
    count per key (shown beside the estimate to surface the
    overestimate) is the classic hash-groupBy; a real pipeline keeps
    only the sketch.

    All arithmetic is integer (md5-derived (a,b) literals shared with
    the oracle — functions/portable_hash.cms_params — modular into
    int64-safe domains), so estimates are bit-exact cross-engine,
    collisions included: width=64 against a bigram space of ~vocab² is
    CHOSEN to collide, making the overestimate column genuinely
    non-zero under the differential."""
    occ = cms_bigram_occurrences(docs)
    return cms_topk(occ, cms_counters(occ, depth, width), depth, width, k)


HLL_M = 64  # registers; p = 6 index bits, 26-bit rank suffix, rho ≤ 27


def hll_shingle_cardinality(docs: DataFrame) -> DataFrame:
    """Per-source distinct-shingle cardinality via a from-scratch
    HYPERLOGLOG (Flajolet et al. 2007) — the third mergeable sketch in
    the family (count-min = frequency, Bloom = membership, HLL =
    cardinality). 64 registers per group; register j holds the max
    rho (position of the first 1-bit in the hash's 26-bit rank
    suffix) seen in bucket j; the raw estimate is α₆₄·m²/Σ2^(−M_j).

    Scale contract: the register table is ≤ 64 rows per group after a
    map-side-combinable MAX aggregation — counting billions of
    distinct keys per group costs a fixed 64-row state, vs
    count(DISTINCT) whose shuffle carries every distinct key. The
    exact count runs alongside here only to surface the
    approximation error under the differential.

    Bit-exact cross-engine despite the double: every term 2^(−M) is a
    dyadic rational built by integer shift (never pow()), their sum
    needs ≤ 33 mantissa bits so double addition is EXACT and
    order-independent (distributed sums can't wobble), and the final
    α·m²/S is one IEEE multiply + divide from shared literals. The
    small-range LinearCounting branch is deliberately OMITTED — it
    needs ln(), which no two libms agree on bit-for-bit; with
    n ≈ 4000 distinct per source vs m = 64 the raw branch is the
    exercised regime (zero_registers output pins V = 0). rho uses the
    portable bitlen trick length(strip-leading-zeros(bin(w)))."""
    # r18: the projection feeds BOTH the register MAX and the exact
    # count, and both are duplicate-insensitive — so distinct once
    # (bucket/rho are functions of x, so distinct rows == distinct
    # (source, x) pairs), persist the distinct-shingle-sized result,
    # and run both aggregations over it. One explode+hash pass instead
    # of two; the exact leg's countDistinct collapses to a plain
    # count(*) over already-distinct rows — identical n_exact.
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    d = tracked_persist(hll_projection(docs).distinct())
    regs = hll_registers(d)
    exact = d.groupBy("source").agg(F.count("*").alias("n_exact"))
    return hll_estimate_from_registers(regs, exact)


def hll_projection(docs: DataFrame) -> DataFrame:
    """(source, x, bucket, rho) rows for every shingle OCCURRENCE —
    stateless, so it applies unchanged to a STREAMING DataFrame (the
    streaming HLL row reuses it). No pre-distinct: HLL's register MAX
    and countDistinct are both duplicate-insensitive, so deduping
    first would only add a shuffle."""
    from kafka_topic_dumper_spark.operators.dedup import _SHINGLES

    sh = docs.select("source", _tokens().alias("tokens")).select(
        "source", F.explode(F.expr(_SHINGLES)).alias("shingle")
    )
    return (
        sh.select("source", F.expr(h32_spark_sql("shingle")).alias("x"))
        .select(
            "source",
            "x",
            (F.col("x") % HLL_M).alias("bucket"),
            F.expr(f"x div {HLL_M}").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(27)).otherwise(
                27 - F.length(F.expr("trim(LEADING '0' FROM bin(w))"))
            ),
        )
        .drop("w")
    )


def hll_registers(proj: DataFrame) -> DataFrame:
    """The sketch state: (source, bucket, mreg), ≤ 64 rows per group.
    On a stream this groupBy-MAX is the complete-mode aggregation
    whose state is bounded by groups×64 forever."""
    return proj.groupBy("source", "bucket").agg(F.max("rho").alias("mreg"))


def hll_estimate_from_registers(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Raw-branch HLL estimate per source from a drained register
    table, joined with the exact count for error surfacing."""
    per = regs.groupBy("source").agg(
        F.count("*").alias("present"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / CAST(shiftleft(1L, mreg) AS DOUBLE)")
        ).alias("s_present"),
    )
    return (
        per.join(exact, "source")
        .select(
            "source",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (F.lit(HLL_M) - F.col("present")).cast("int").alias(
                "zero_registers"
            ),
            (
                F.expr("CAST(0.709 AS DOUBLE) * 4096")
                / (
                    F.col("s_present")
                    + (F.lit(HLL_M) - F.col("present")).cast("double")
                )
            ).alias("hll_estimate"),
        )
        .orderBy("source")
    )


TFIDF_TOPK = 3


def tfidf_keywords(docs: DataFrame, k: int = TFIDF_TOPK) -> DataFrame:
    """Top-``k`` keywords per document by TF-IDF — LOG-FREE: the usual
    ``tf·log(N/df)`` ranks documents' terms identically to the
    rational ``tf·N/df`` whenever only the ORDER matters (log is
    monotone in df for fixed tf... it is not jointly monotone, so this
    is a deliberately different, fully-specified scoring: raw rarity
    weight instead of damped). The score is one exact int64 product
    (tf·N) and ONE IEEE division by df — deterministic cross-engine —
    with (score DESC, token ASC) total order, so the per-doc top-k is
    bit-reproducible.

    Plan: term frequencies are one (doc, token) groupBy; document
    frequencies one token-keyed groupBy joined back on the token key
    (the same inverted-index shuffle everything else here rides); the
    per-doc top-k is a WindowGroupLimit-eligible row_number — partial
    top-k before the doc-keyed exchange, never a full per-doc sort at
    the reducer."""
    toks = _tokens()
    tf = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_, "tok").select(
        "doc_id",
        "tok",
        (
            (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df").cast("double")
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            F.col("tok").alias("keyword"),
            F.col("rnk").cast("int").alias("rnk"),
            "score",
        )
    )


def vocab_growth(docs: DataFrame, buckets: int = 32) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law statistic) over BIGRAM
    vocabulary in doc_id ingestion order: for every doc that
    introduces at least one new bigram, the number introduced and the
    cumulative vocabulary size after it. The curve is how corpus
    curation decides when more data stops buying lexical diversity.

    Distributed shape: first-occurrence doc per bigram is ONE
    min-aggregation on the inverted-index shuffle; new-per-doc is a
    doc-keyed count; the cumulative sum rides the two-phase
    distributed prefix sum (packing.ordered_prefix_sum keyed on
    doc_id) — never a single-partition running total. The oracle
    replays the cumsum as a serial window, so the hash-match proves
    the distributed scan equal to the serial one."""
    from kafka_topic_dumper_spark.operators.packing import ordered_prefix_sum

    bg = (
        docs.select("doc_id", _tokens().alias("toks"))
        .select("doc_id", F.explode(F.expr(_BIGRAMS)).alias("bigram"))
        .distinct()
    )
    first = bg.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    news = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("new_bigrams")
    )
    ps = ordered_prefix_sum(news, "doc_id", "new_bigrams", buckets=buckets)
    if ps is None:
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, new_bigrams long, vocab_size long"
        )
    return ps.select(
        "doc_id",
        F.col("new_bigrams").cast("bigint").alias("new_bigrams"),
        (F.col("s") + F.col("new_bigrams")).cast("bigint").alias("vocab_size"),
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pieces
    (letter-runs | digits | single punctuation), distinct tokens, and
    mean token length.

    Shape (r19, guide §2.5 + §1.2 step 2): scan→Project row, same two
    fixes as :func:`lang_id` — spread the single-split bench-scale
    scan, and hoist the tokenization into its own projection (the
    single Project evaluated ``split(lower(text))`` FOUR times per row
    and the whole-stage-codegen subexpression elimination that would
    normally dedup it never runs here, the aggregate/transform lambdas
    are CodegenFallback). Value-identical: same expressions over the
    same tokens value."""
    base = spread_input(docs.select("doc_id", "text")).withColumn(
        "toks", _tokens()
    )
    toks = F.col("toks")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"), F.lit(0)
    )
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return base.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.size(pieces).cast("bigint").alias("n_bpe_pieces"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.round(tok_len_sum / F.size(toks), 4).alias("mean_token_len"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint over whitespace-normalized text (md5 — stable
    across engines; the dedup key used by exact_dedup's scale path)."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("bigint").alias("norm_chars"),
    )


def winnowing_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme MOSS
    uses): hash every character k-gram of the whitespace-normalized
    text, slide a window of ``w`` consecutive positions, keep each
    window's minimum hash, emit the distinct (doc_id, fingerprint)
    set. Guarantees any match of length ≥ k+w-1 shares a fingerprint.

    Plan: the doc_id shuffle happens BEFORE the ×(len) character
    explode — repartition("doc_id") on whole-doc rows, then explode
    (generators preserve their child's partitioning), so the per-doc
    window's required distribution is already satisfied and NO exchange
    ever carries one-row-per-character data. At 100 TB the exchange
    moves docs, not characters — ~100× less shuffle volume for typical
    doc lengths. Per-doc cost is linear in characters; no cross-doc
    work at all (fingerprints feed a later bucket-join, same shape as
    LSH). Hashes are the portable md5-prefix H32 so the DuckDB oracle
    reproduces the exact fingerprint set.

    NOTE a pure array-lambda formulation (hash array + array_min over
    slices, zero shuffle) is quadratic in practice: Catalyst collapses
    the projections and inlines the full hash-array expression into
    EVERY slice position, re-hashing the whole doc per position —
    measured >100× slower. The explode+window form keeps each hash
    computed exactly once."""
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    # pre-explode shuffle: move whole docs, never per-character rows.
    # The partition count is pinned explicitly: doc rows are ~100×
    # smaller than the exploded per-character rows they expand into, so
    # AQE's size-based coalescing (which only sees the pre-explode
    # bytes) would funnel the expensive hash stage into one or two
    # partitions; an explicit N is exempt from coalescing.
    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    base = (
        docs.select("doc_id", norm.alias("t"))
        .withColumn("maxpos", F.greatest(F.length("t") - F.lit(k - 1), F.lit(1)))
        .repartition(n_parts, "doc_id")
    )
    grams = base.select(
        "doc_id",
        "maxpos",
        F.explode(F.sequence(F.lit(1), F.col("maxpos"))).alias("pos"),
        F.col("t"),
    ).select(
        "doc_id",
        "maxpos",
        "pos",
        F.expr(h32_spark_sql(f"substring(t, pos, {k})")).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    # per-doc dedup via groupBy(doc_id) + collect_set: the window
    # already hash-partitioned by doc_id, so this aggregation needs NO
    # second exchange (a plain .distinct() on (doc_id, fp) would
    # reshuffle everything on the pair key); the explode is map-side
    return (
        grams.withColumn("wmin", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("maxpos") - F.lit(w - 1))
        .groupBy("doc_id")
        .agg(F.collect_set("wmin").alias("fps"))
        .select("doc_id", F.explode("fps").alias("fingerprint"))
    )


def lang_corpus_stats(docs: DataFrame) -> DataFrame:
    """Per-predicted-language corpus statistics — the composition query
    a data pipeline runs after language ID (lang_id ⋈ token counts →
    groupBy). One extra shuffle over the lang_id pass."""
    lang = lang_id(docs).select("doc_id", "pred_lang")
    toks = docs.select(
        "doc_id",
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        lang.join(toks, "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def token_doc_frequency(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k tokens by document frequency — the corpus-level statistic
    behind stopword discovery and df-based filtering. explode →
    per-doc distinct (map-local) → count per token (one shuffle,
    partial-aggregatable) → top-k (TakeOrdered, no global sort)."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "tok")
        .limit(k)
    )


def mean_token_df(docs: DataFrame) -> DataFrame:
    """Corpus-relative fluency proxy: the mean document frequency of a
    doc's tokens (high = built from common words, low = rare/noisy
    vocabulary) — a two-pass n-gram-LM stand-in that needs no model:
    pass 1 aggregates the token→df table (shuffle on token), pass 2
    joins it back and averages per doc. No broadcast hint on the df
    table: vocabulary grows with the corpus (100M+ tokens at 100 TB),
    so AQE decides from runtime stats — and the join key is the same
    ``tok`` the aggregation shuffled on, so the shuffle-join path
    reuses that exchange. Integer sums/counts only — no transcendentals, so the
    result is bit-identical across engines."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("tok")
    )
    df_table = toks.groupBy("tok").agg(F.count("*").alias("df"))
    return (
        toks.join(df_table, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            (F.sum("df") / F.count("*")).alias("mean_token_df"),
        )
        .select(
            "doc_id",
            F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
            "mean_token_df",
        )
    )


# BM25 retrieval (Robertson/Sparck-Jones with the Lucene +1 idf floor)
# — the lexical-retrieval primitive behind decontamination lookups and
# quality-by-query corpus probes. The classic defaults k1 = 1.2 and
# b = 0.75 are folded into :func:`_bm25_contrib_sql` as literals.
BM25_QUERY = ["spark", "join", "stream", "window"]


def _bm25_contrib_sql() -> str:
    """One query-term's BM25 contribution, written ONCE and used
    verbatim by both engines so the float association is identical.
    Expects columns tf, df, dl, n_docs, tot in scope; (1-b)=0.25 and
    (k1+1)=2.2 are folded to literals both parsers read identically."""
    return (
        "ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5))"
        " * (CAST(tf AS DOUBLE) * 2.2)"
        " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75"
        " * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE)"
        " / CAST(n_docs AS DOUBLE)))))"
    )


def bm25_topk(
    docs: DataFrame, terms: list[str] | None = None, k: int = 20
) -> DataFrame:
    """Top-k documents by BM25 for a fixed query-term set.

    Plan shape at 100 TB: the per-token explode never happens — the
    token array is filtered to the query terms JVM-side FIRST, so the
    exploded stream carries ≤ |terms| rows per document; term
    frequencies aggregate with map-side combine on (doc_id, tok);
    document frequencies and the corpus length stats are model-sized
    broadcasts; the final top-k is TakeOrderedAndProject (no global
    sort). The per-doc score sums term contributions in a FIXED
    conditional-aggregation order (one column per query term), so the
    result is reproducible under any shuffle layout and bit-comparable
    across engines. Mirrors the reference's derive-then-apply scan
    bookkeeping (kafka_client.py:149-176) as a retrieval primitive."""
    terms = terms or BM25_QUERY
    in_list = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    base = docs.select("doc_id", _tokens().alias("toks")).withColumn(
        "dl", F.size("toks").cast("bigint")
    )
    corpus = base.agg(F.sum("dl").alias("tot"), F.count("*").alias("n_docs"))
    matched = base.select(
        "doc_id",
        "dl",
        F.explode(F.expr(f"filter(toks, x -> x IN ({in_list}))")).alias("tok"),
    )
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    # persisted: tf feeds BOTH the document-frequency rollup and the
    # scoring join, and Catalyst does not reuse the subtree — without
    # this the corpus is tokenized three times (measured in the plan:
    # 3 parquet scans → 2). tf is bounded by (docs containing a query
    # term) × |terms|, far below corpus scale.
    tf = tracked_persist(
        matched.groupBy("doc_id", "tok").agg(
            F.count("*").alias("tf"), F.min("dl").alias("dl")
        )
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(corpus))
        .withColumn("contrib", F.expr(_bm25_contrib_sql()))
    )
    per_term = [
        F.sum(F.when(F.col("tok") == t, F.col("contrib"))).alias(f"s{i}")
        for i, t in enumerate(terms)
    ]
    perdoc = contrib.groupBy("doc_id").agg(
        F.count("*").alias("n_hit_terms"), *per_term
    )
    score = F.coalesce(F.col("s0"), F.lit(0.0))
    for i in range(1, len(terms)):
        score = score + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    topk = (
        perdoc.withColumn("score", score)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return topk.select(
        "doc_id",
        F.col("n_hit_terms").cast("bigint").alias("n_hit_terms"),
        F.row_number().over(w).cast("integer").alias("rank"),
        F.round("score", 4).alias("bm25"),
    )


def bm25_oracle_ctes(terms: list[str] | None = None, k: int = 20) -> str:
    """The BM25 computation as a CTE chain ending in
    ``bm25r(doc_id, n_hit_terms, score, rank)`` — composable into
    larger retrieval pipelines (hybrid RRF fusion reuses it)."""
    terms = terms or BM25_QUERY
    esc = [t.replace("'", "''") for t in terms]
    in_list = ", ".join(f"'{t}'" for t in esc)
    cases = " + ".join(
        f"coalesce(sum(CASE WHEN tok = '{t}' THEN contrib END), 0.0)"
        for t in esc
    )
    return rf"""t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM documents
        ), b AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
        ), corpus AS (
            SELECT sum(dl) AS tot, count(*) AS n_docs FROM b
        ), m AS (
            SELECT doc_id, dl,
                   unnest(list_filter(toks, x -> x IN ({in_list}))) AS tok
            FROM b
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
            FROM m GROUP BY doc_id, tok
        ), dft AS (
            SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), c AS (
            SELECT tf.doc_id, tf.tok,
                   {_bm25_contrib_sql()} AS contrib
            FROM tf JOIN dft USING (tok) CROSS JOIN corpus
        ), p AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
                   {cases} AS score
            FROM c GROUP BY doc_id
        ), bm25r AS (
            SELECT doc_id, n_hit_terms, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INTEGER) AS rank
            FROM (SELECT doc_id, n_hit_terms, score FROM p
                  ORDER BY score DESC, doc_id LIMIT {k})
        )"""


def bm25_oracle_sql(terms: list[str] | None = None, k: int = 20) -> str:
    """DuckDB twin of :func:`bm25_topk` — identical tokenizer, identical
    contribution expression, identical fixed-order conditional sum."""
    return f"""
        WITH {bm25_oracle_ctes(terms, k)}
        SELECT doc_id, n_hit_terms, rank, round(score, 4) AS bm25
        FROM bm25r
        """


# Hybrid retrieval: lexical BM25 ∪ embedding cosine, fused with
# reciprocal-rank fusion (RRF, the rank-only combiner that needs no
# score normalization — the standard first fusion baseline).
RRF_K = 60  # the canonical RRF damping constant
HYBRID_QUERY_VEC = 0  # embeddings row standing in for the query vector
_RRF_EXPR = (
    f"coalesce(1.0 / ({RRF_K} + CAST(lex_rank AS DOUBLE)), 0.0)"
    f" + coalesce(1.0 / ({RRF_K} + CAST(sem_rank AS DOUBLE)), 0.0)"
)


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str] | None = None,
    k_each: int = 50,
    k: int = 10,
) -> DataFrame:
    """Hybrid top-k: BM25 top-``k_each`` and exact-cosine
    top-``k_each`` (query = embedding row ``HYBRID_QUERY_VEC``;
    vec_id ≡ doc_id in the testdata), fused by RRF =
    Σ 1/(60+rank) over the lists a document appears in.

    Plan shape at 100 TB: both retrieval legs end in
    TakeOrderedAndProject, so the fusion join runs over 2·k_each ROWS
    — metadata-plane regardless of corpus size; ranks are integers so
    every RRF score is one of a small exact-double set, identical in
    any engine, and ties break on doc_id."""
    from kafka_topic_dumper_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    lex = bm25_topk(docs, terms, k_each).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = cosine_topk_bruteforce(emb, [HYBRID_QUERY_VEC], k_each).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer").withColumn(
        "rrf", F.expr(_RRF_EXPR)
    )
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.row_number().over(w).cast("integer").alias("rank"),
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


def hybrid_rrf_oracle_sql(
    terms: list[str] | None = None, k_each: int = 50, k: int = 10
) -> str:
    """DuckDB twin of :func:`hybrid_rrf` — composes the BM25 CTE chain
    with the exact-cosine leg and the identical RRF expression."""
    return f"""
        WITH {bm25_oracle_ctes(terms, k_each)}, v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), sem0 AS (
            SELECT b.vec_id AS doc_id,
                   list_sum(list_transform(range(1, 65),
                            i -> q.v[i] * b.v[i])) / (q.nrm * b.nrm) AS cos
            FROM n q JOIN n b ON b.vec_id != q.vec_id
            WHERE q.vec_id = {HYBRID_QUERY_VEC}
        ), semr AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                        AS INTEGER) AS sem_rank
            FROM (SELECT doc_id, cos FROM sem0
                  ORDER BY cos DESC, doc_id LIMIT {k_each})
        ), fused AS (
            SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                   l.rank AS lex_rank, s.sem_rank,
                   {_RRF_EXPR} AS rrf
            FROM bm25r l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
        ), top AS (
            SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT {k}
        )
        SELECT doc_id, lex_rank, sem_rank,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                    AS INTEGER) AS rank,
               round(rrf, 6) AS rrf_score
        FROM top
        """


# fastText-style linear quality classifier over hashed bag-of-words.
# The ARCHITECTURE is the point (hash tokens → fixed buckets → linear
# logit → sigmoid, all JVM expressions, model broadcast as literals);
# the weights here are a deterministic stand-in derived from the
# portable hash — production swaps in trained weights, same plan.
QC_BUCKETS = 64


def _qc_weights() -> list[int]:
    """Centi-logit integer weights in [-300, 300] per hash bucket —
    derived once in Python from the portable hash and embedded as the
    SAME literal table in both engines (exact by construction)."""
    return [h32_py(f"qc-w-{j}") % 601 - 300 for j in range(QC_BUCKETS)]


def quality_classifier(docs: DataFrame) -> DataFrame:
    """Per-doc linear-classifier quality score: logit = mean of the
    per-token bucket weights, prob = sigmoid(logit).

    Exactness design: weights are INTEGERS, so the per-doc weight sum
    is an exact BIGINT under any aggregation order; the keep decision
    compares that integer against zero (sign(logit) ⇔ prob ≥ 0.5), so
    membership never goes through a float; only the reported
    probability touches transcendentals, rounded to 4 on both engines.

    Plan shape at 100 TB: explode → hash → integer aggregate per doc —
    one corpus shuffle on doc_id with map-side combine; the model is a
    64-entry literal folded into codegen (a trained model of any real
    size rides a broadcast join instead, same plan shape)."""
    w = _qc_weights()
    arr = "array(" + ", ".join(str(x) for x in w) + ")"
    bucket = f"({h32_spark_sql('tok')} % {QC_BUCKETS})"
    toks = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    weighted = toks.select(
        "doc_id", F.expr(f"element_at({arr}, CAST({bucket} AS INT) + 1)").alias("w")
    )
    return (
        weighted.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("logit_centisum"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "logit_centisum",
            F.round(
                F.expr(
                    "1.0 / (1.0 + exp(-(CAST(logit_centisum AS DOUBLE)"
                    " / (CAST(n_tokens AS DOUBLE) * 100.0))))"
                ),
                4,
            ).alias("prob"),
            (F.col("logit_centisum") >= 0).alias("keep"),
        )
    )


def quality_classifier_oracle_ctes() -> str:
    """The classifier computation as CTEs ending in
    ``qc_agg(doc_id, n_tokens, logit_centisum)`` — composable (the
    quality ensemble and quality-survivor dedup reuse it)."""
    w = _qc_weights()
    arr = "[" + ", ".join(str(x) for x in w) + "]"
    h = h32_duckdb_sql("tok")
    return rf"""qc_toks AS (
            SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM documents
        ), qc_weighted AS (
            SELECT doc_id, ({arr})[CAST(({h} % {QC_BUCKETS}) AS INT) + 1] AS w
            FROM qc_toks
        ), qc_agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(w) AS BIGINT) AS logit_centisum
            FROM qc_weighted GROUP BY doc_id
        )"""


def quality_classifier_oracle_sql() -> str:
    """DuckDB twin of :func:`quality_classifier` — same literal weight
    table, same integer logit sum, same sigmoid expression."""
    return f"""
        WITH {quality_classifier_oracle_ctes()}
        SELECT doc_id, n_tokens, logit_centisum,
               round(1.0 / (1.0 + exp(-(CAST(logit_centisum AS DOUBLE)
                     / (CAST(n_tokens AS DOUBLE) * 100.0)))), 4) AS prob,
               logit_centisum >= 0 AS keep
        FROM qc_agg
        """


def repetition_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition/quality signals per document: duplicate
    word-2-gram fraction, symbol-to-word ratio, mean word length —
    the cheap heuristics large-corpus pipelines filter on before any
    model-based scoring. Pure array-lambda expressions, single pass,
    no shuffle."""
    toks = _tokens()
    n_tokens = F.size(toks).cast("bigint")
    # guard: Spark's sequence(0, n) DESCENDS when n < 0, so short docs
    # must short-circuit to an empty gram list instead
    grams2 = F.when(
        F.size("tokens") >= 2,
        F.expr(
            "transform(sequence(0, size(tokens) - 2), "
            "i -> concat_ws(' ', tokens[i], tokens[i+1]))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    n_grams = F.size(F.col("g2")).cast("bigint")
    n_distinct = F.size(F.array_distinct(F.col("g2"))).cast("bigint")
    symbols = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    ).cast("bigint")
    word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        docs.withColumn("tokens", toks)
        .withColumn("g2", grams2)
        .select(
            "doc_id",
            F.when(n_grams > 0, F.round((n_grams - n_distinct) / n_grams, 4))
            .otherwise(F.lit(0.0))
            .alias("dup_2gram_frac"),
            F.round(symbols / word_chars, 4).alias("symbol_word_ratio"),
            F.round(word_chars / n_tokens, 4).alias("mean_word_len"),
        )
    )


def bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, cur) word-bigram stream — whitespace-lowered
    tokens, one row per adjacent pair, short docs emit nothing. Pure
    JVM expressions, so it applies unchanged to batch relations AND
    unbounded streaming relations (the streaming quality scorer
    reuses it)."""
    return (
        docs.withColumn("tk", _tokens().alias("tk"))
        .withColumn(
            "z",
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, greatest(0, size(tk) - 1)), "
                    "(p, i) -> struct(p AS prev, element_at(tk, i + 2) AS cur))"
                )
            ),
        )
        .select(*docs.columns, "z.prev", "z.cur")
        .drop("text")
    )


def bigram_lm_model(docs: DataFrame):
    """Train the corpus bigram LM once: returns
    ``(pair_counts(prev, cur, c_pc), ctx_counts(prev, c_p),
    vocab(v))`` — all MODEL-sized relations. pair_counts is persisted:
    it feeds three consumers (context rollup, vocab size, scoring
    join) and Catalyst does not reuse the exchange across them
    (measured: 4 corpus scans without the persist, 2 with). The
    persisted relation is model-sized, never the exploded corpus
    stream. The streaming scorer consumes this triple as its STATIC
    side."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    bg = bigram_rows(docs.select("doc_id", "text"))
    pair_counts = tracked_persist(
        bg.groupBy("prev", "cur").agg(F.count("*").alias("c_pc"))
    )
    ctx_counts = pair_counts.groupBy("prev").agg(F.sum("c_pc").alias("c_p"))
    vocab = pair_counts.agg(F.countDistinct("cur").alias("v"))
    return pair_counts, ctx_counts, vocab


def bigram_lm_quality(docs: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score: a word-bigram language model is
    estimated FROM the corpus itself (add-one smoothing over the
    observed successor vocabulary), then every document is scored by
    its mean negative log2 bigram probability — the CCNet/Gopher-style
    "how surprising is this document relative to the corpus" filter
    signal. High bits_per_bigram ⇒ token sequences the corpus rarely
    produces (gibberish, boilerplate soup, wrong-language fragments).

    Plan shape, corpus-scale reasoning:
    - the exploded bigram stream shuffles ONCE into the
      (prev, cur)-count aggregation (map-side partial combine);
      the context totals are then a MODEL-sized rollup of those
      counts, never a second pass over the corpus;
    - the model (distinct-bigram-sized ≪ corpus-sized) joins back to
      the bigram stream on (prev, cur); the Zipf head ("the", …) is
      the classic skew key — that is AQE skew-join territory, and the
      join stays declarative so the runtime can split hot partitions;
    - the smoothing vocabulary size is a 1-row aggregate broadcast —
      constant, not SF-proportional;
    - per-doc scoring is one last hash aggregation on doc_id.
    Mirrors the reference's derive-then-apply bookkeeping pattern
    (kafka_client.py:168-176) at training-pipeline scale."""
    bg = bigram_rows(docs.select("doc_id", "text"))
    pair_counts, ctx_counts, vocab = bigram_lm_model(docs)
    model = pair_counts.join(ctx_counts, "prev").crossJoin(F.broadcast(vocab))
    scored = bg.join(model, ["prev", "cur"]).withColumn(
        "nlp", -F.log2((F.col("c_pc") + F.lit(1.0)) / (F.col("c_p") + F.col("v")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.avg("nlp").alias("avg_nlp"))
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_bigrams"),
            F.round(F.col("avg_nlp"), 4).alias("bits_per_bigram"),
            F.round(F.pow(F.lit(2.0), F.col("avg_nlp")), 4).alias("ppl_proxy"),
        )
    )


KN_DISCOUNT = 0.75  # = 3/4 — exactly representable in binary float


def kneser_ney_quality(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995) —
    the smoothing family that actually ships in n-gram LM toolkits,
    vs the add-one baseline of :func:`bigram_lm_quality`: probability
    mass discounted by D = 3/4 from every seen bigram is redistributed
    through the CONTINUATION distribution (how many distinct contexts
    a word follows), so boilerplate tokens that appear everywhere in
    one context stop looking "likely" —
    P(w|v) = max(c(vw) − D, 0)/c(v) + (D·N₁₊(v·)/c(v)) · N₁₊(·w)/N₁₊(··).

    Plan shape: identical to the add-one row — the exploded bigram
    stream shuffles once into pair counts; the three KN statistics
    (distinct successors per context, distinct contexts per word,
    total distinct pairs) are MODEL-sized rollups of that one count
    table, never second corpus passes; scoring is the same skew-aware
    (prev, cur) model join. D = 3/4 keeps every float term a
    correctly-rounded IEEE op from exact integers; the oracle mirrors
    the expression tree shape, so scores agree before the final
    rounding."""
    bg = bigram_rows(docs.select("doc_id", "text"))
    pair_counts, ctx_counts, _ = bigram_lm_model(docs)
    fwd = pair_counts.groupBy("prev").agg(F.count("*").alias("n1p_fwd"))
    bwd = pair_counts.groupBy("cur").agg(F.count("*").alias("n1p_bwd"))
    npairs = pair_counts.agg(F.count("*").alias("n_pairs"))
    model = (
        pair_counts.join(ctx_counts, "prev")
        .join(fwd, "prev")
        .join(bwd, "cur")
        .crossJoin(F.broadcast(npairs))
    )
    d = F.lit(KN_DISCOUNT)
    scored = bg.join(model, ["prev", "cur"]).withColumn(
        "nlp",
        -F.log2(
            F.greatest(F.col("c_pc") - d, F.lit(0.0)) / F.col("c_p")
            + (d * F.col("n1p_fwd") / F.col("c_p"))
            * (F.col("n1p_bwd") / F.col("n_pairs"))
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.avg("nlp").alias("avg_nlp"))
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_bigrams"),
            F.round(F.col("avg_nlp"), 4).alias("kn_bits_per_bigram"),
        )
    )


def kneser_ney_oracle_sql(src: str = "documents") -> str:
    """DuckDB mirror of :func:`kneser_ney_quality` — same CTE-count
    derivation as the add-one oracle plus the three KN statistics;
    0.75 is CAST to DOUBLE (a bare DuckDB literal is DECIMAL) and the
    probability expression mirrors the Spark tree shape."""
    return rf"""
        WITH kn_t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM {src}
        ), kn_bg AS (
            SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
                SELECT doc_id, unnest(list_zip(toks[:-2], toks[2:])) AS z
                FROM kn_t
            )
        ), kn_pc AS (
            SELECT prev, cur, count(*) AS c_pc FROM kn_bg GROUP BY prev, cur
        ), kn_p AS (
            SELECT prev, sum(c_pc) AS c_p FROM kn_pc GROUP BY prev
        ), kn_fwd AS (
            SELECT prev, count(*) AS n1p_fwd FROM kn_pc GROUP BY prev
        ), kn_bwd AS (
            SELECT cur, count(*) AS n1p_bwd FROM kn_pc GROUP BY cur
        ), kn_np AS (
            SELECT count(*) AS n_pairs FROM kn_pc
        ), kn_scored AS (
            SELECT kn_bg.doc_id,
                   -log2(
                       greatest(kn_pc.c_pc - CAST(0.75 AS DOUBLE),
                                CAST(0 AS DOUBLE)) / kn_p.c_p
                       + (CAST(0.75 AS DOUBLE) * kn_fwd.n1p_fwd / kn_p.c_p)
                       * (CAST(kn_bwd.n1p_bwd AS DOUBLE) / kn_np.n_pairs)
                   ) AS nlp
            FROM kn_bg
            JOIN kn_pc USING (prev, cur)
            JOIN kn_p USING (prev)
            JOIN kn_fwd USING (prev)
            JOIN kn_bwd USING (cur), kn_np
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(nlp), 4) AS kn_bits_per_bigram
        FROM kn_scored GROUP BY doc_id
        """


def source_token_entropy(docs: DataFrame) -> DataFrame:
    """Per-source Shannon entropy of the token distribution — the
    corpus-diversity dashboard number next to the share-drift row: a
    source whose entropy collapses is templating/boilerplating even if
    its volume holds. Computed as H = log2(n) − (Σ c·log2 c)/n so the
    floating work is one log2 per DISTINCT token of exact integer
    counts plus one division — the same libm-budget discipline as the
    add-one LM row (and the same round-to-4 guard on the final
    order-sensitive sum). One tokenize pass, one (source, token)
    count shuffle with map-side combine, one source-sized rollup."""
    toks = docs.select(
        "source", F.explode(_tokens()).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").alias("n"),
            F.count("*").alias("vocab"),
            F.sum(F.col("c") * F.log2("c")).alias("clog"),
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("integer").alias("vocab"),
            F.round(
                F.log2("n") - F.col("clog") / F.col("n"), 4
            ).alias("entropy_bits"),
        )
    )


def source_token_entropy_oracle_sql(src: str = "documents") -> str:
    return rf"""
        WITH toks AS (
            SELECT source, tok FROM (
                SELECT source,
                       unnest(string_split_regex(lower(text), '\s+')) AS tok
                FROM {src}
            ) WHERE tok != ''
        ), counts AS (
            SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok
        )
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS INTEGER) AS vocab,
               round(log2(CAST(sum(c) AS DOUBLE))
                     - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4)
                   AS entropy_bits
        FROM counts GROUP BY source
        """


def source_snapshot_jsd(docs: DataFrame, mod: int = 2) -> DataFrame:
    """Per-source Jensen–Shannon divergence between two corpus
    snapshots' TOKEN DISTRIBUTIONS — the information-theoretic drift
    metric beside ``corpus_drift``'s volume shares: share drift sees a
    source growing or shrinking, JSD sees it changing VOCABULARY at
    constant volume (template swaps, language shifts). Snapshot
    membership is ``(doc_id div 20) % mod`` — the row-group stride
    decorrelates it from the ``doc_id % 20`` source assignment (plain
    parity would put every source wholly in one snapshot); JSD = H(M) − (H(A)+H(B))/2 with the equal-weight
    mixture M, bounded in [0, 1] bits, 0 ⇔ identical distributions.

    Plan: ONE tokenize pass with conditional snapshot counts (no
    second corpus scan), one (source, token) shuffle with map-side
    combine, source-sized totals broadcast back, then a per-token
    entropy-term sum — the same log2-on-exact-operands + round(4)
    float discipline as the entropy/LM rows, with the identical
    expression tree mirrored in the oracle."""
    toks = docs.select(
        "source",
        F.expr(f"(doc_id div 20) % {mod} = 0").alias("in_a"),
        F.explode(_tokens()).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("b"),
    )
    totals = counts.groupBy("source").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    pa = F.col("a") / F.col("na")
    pb = F.col("b") / F.col("nb")
    m = (pa + pb) / F.lit(2.0)
    terms = counts.join(F.broadcast(totals), "source").select(
        "source",
        "na",
        "nb",
        (-m * F.log2(m)).alias("hm_t"),
        F.when(F.col("a") > 0, -pa * F.log2(pa)).otherwise(F.lit(0.0)).alias(
            "ha_t"
        ),
        F.when(F.col("b") > 0, -pb * F.log2(pb)).otherwise(F.lit(0.0)).alias(
            "hb_t"
        ),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.sum("hm_t").alias("hm"),
            F.sum("ha_t").alias("ha"),
            F.sum("hb_t").alias("hb"),
        )
        .select(
            "source",
            F.col("na").cast("bigint").alias("n_tokens_a"),
            F.col("nb").cast("bigint").alias("n_tokens_b"),
            F.round(
                F.col("hm") - (F.col("ha") + F.col("hb")) / F.lit(2.0), 4
            ).alias("jsd_bits"),
        )
    )


def source_snapshot_jsd_oracle_sql(src: str = "documents", mod: int = 2) -> str:
    return rf"""
        WITH toks AS (
            SELECT source, in_a, tok FROM (
                SELECT source, ((doc_id // 20) % {mod} = 0) AS in_a,
                       unnest(string_split_regex(lower(text), '\s+')) AS tok
                FROM {src}
            ) WHERE tok != ''
        ), counts AS (
            SELECT source, tok,
                   sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
                   sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS b
            FROM toks GROUP BY source, tok
        ), totals AS (
            SELECT source, sum(a) AS na, sum(b) AS nb
            FROM counts GROUP BY source
        ), terms AS (
            SELECT c.source, t.na, t.nb,
                   -((c.a / t.na + c.b / t.nb) / 2.0)
                       * log2((c.a / t.na + c.b / t.nb) / 2.0) AS hm_t,
                   CASE WHEN c.a > 0
                        THEN -(c.a / t.na) * log2(c.a / t.na)
                        ELSE 0.0 END AS ha_t,
                   CASE WHEN c.b > 0
                        THEN -(c.b / t.nb) * log2(c.b / t.nb)
                        ELSE 0.0 END AS hb_t
            FROM counts c JOIN totals t ON c.source = t.source
        )
        SELECT source,
               CAST(first(na) AS BIGINT) AS n_tokens_a,
               CAST(first(nb) AS BIGINT) AS n_tokens_b,
               round(sum(hm_t) - (sum(ha_t) + sum(hb_t)) / 2.0, 4)
                   AS jsd_bits
        FROM terms GROUP BY source
        """


def bigram_lm_oracle_ctes(src: str = "documents") -> str:
    """DuckDB CTE chain mirroring :func:`bigram_lm_quality` over table
    ``src``, terminating in per-doc scores as ``lmq(doc_id, n_bigrams,
    bits_per_bigram, ppl_proxy)`` — shared by the standalone query and
    the composed quality→dedup→pack pipeline oracle."""
    return rf"""lm_t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM {src}
        ), lm_bg AS (
            SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
                SELECT doc_id, unnest(list_zip(toks[:-2], toks[2:])) AS z
                FROM lm_t
            )
        ), lm_pc AS (
            SELECT prev, cur, count(*) AS c_pc FROM lm_bg GROUP BY prev, cur
        ), lm_p AS (
            SELECT prev, sum(c_pc) AS c_p FROM lm_pc GROUP BY prev
        ), lm_v AS (
            SELECT count(DISTINCT cur) AS v FROM lm_pc
        ), lm_scored AS (
            SELECT lm_bg.doc_id,
                   -log2((lm_pc.c_pc + 1.0) / (lm_p.c_p + lm_v.v)) AS nlp
            FROM lm_bg JOIN lm_pc USING (prev, cur) JOIN lm_p USING (prev), lm_v
        ), lmq AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(nlp), 4) AS bits_per_bigram,
                   round(pow(2.0, avg(nlp)), 4) AS ppl_proxy
            FROM lm_scored GROUP BY doc_id
        )"""


def corpus_drift(docs: DataFrame, mod: int = 2) -> DataFrame:
    """Per-source distribution drift between two corpus snapshots —
    the data-quality monitoring primitive behind "did this crawl's mix
    shift?" dashboards. Snapshot membership is deterministic
    (``doc_id % mod == 0`` vs the rest — the same snapshot-mod device
    as ``incremental_dedup``; production passes two real snapshot
    tables through the identical plan). Per source: doc/token counts
    in each snapshot, each snapshot's token SHARE of its corpus, and
    the absolute share drift.

    Exactness: all aggregates are integer sums; shares are single
    divisions of exact integers, so every float is identical
    cross-engine before the final rounding. Plan: one tokenize pass,
    one source-keyed aggregation with map-side combine, totals as a
    1-row broadcast — no corpus shuffle."""
    per = docs.select(
        "source",
        (F.col("doc_id") % mod == 0).alias("in_a"),
        F.size(_tokens()).cast("bigint").alias("n_tok"),
    )
    agg = per.groupBy("source").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("n_docs_a"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("n_docs_b"),
        F.sum(F.when(F.col("in_a"), F.col("n_tok")).otherwise(0)).cast("bigint").alias("toks_a"),
        F.sum(F.when(~F.col("in_a"), F.col("n_tok")).otherwise(0)).cast("bigint").alias("toks_b"),
    )
    tot = agg.agg(F.sum("toks_a").alias("ta"), F.sum("toks_b").alias("tb"))
    # nullif guards the empty-snapshot edge: x/0.0 is engine-divergent
    # (NULL vs inf vs nan) — NULL shares on both engines instead
    share_a = "CAST(toks_a AS DOUBLE) / CAST(nullif(ta, 0) AS DOUBLE)"
    share_b = "CAST(toks_b AS DOUBLE) / CAST(nullif(tb, 0) AS DOUBLE)"
    return agg.join(F.broadcast(tot)).select(
        "source",
        "n_docs_a",
        "n_docs_b",
        "toks_a",
        "toks_b",
        F.expr(f"round({share_a}, 4)").alias("share_a"),
        F.expr(f"round({share_b}, 4)").alias("share_b"),
        F.expr(f"round(abs({share_a} - {share_b}), 4)").alias("share_drift"),
    )


def corpus_drift_oracle_sql(mod: int = 2) -> str:
    """DuckDB twin — identical integer aggregation and share
    expressions."""
    share_a = "CAST(toks_a AS DOUBLE) / CAST(nullif(ta, 0) AS DOUBLE)"
    share_b = "CAST(toks_b AS DOUBLE) / CAST(nullif(tb, 0) AS DOUBLE)"
    return rf"""
        WITH per AS (
            SELECT source, doc_id % {mod} = 0 AS in_a,
                   CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                       AS n_tok
            FROM documents
        ), agg AS (
            SELECT source,
                   CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_a,
                   CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_b,
                   CAST(sum(CASE WHEN in_a THEN n_tok ELSE 0 END) AS BIGINT) AS toks_a,
                   CAST(sum(CASE WHEN NOT in_a THEN n_tok ELSE 0 END) AS BIGINT) AS toks_b
            FROM per GROUP BY source
        ), tot AS (
            SELECT sum(toks_a) AS ta, sum(toks_b) AS tb FROM agg
        )
        SELECT source, n_docs_a, n_docs_b, toks_a, toks_b,
               round({share_a}, 4) AS share_a,
               round({share_b}, 4) AS share_b,
               round(abs({share_a} - {share_b}), 4) AS share_drift
        FROM agg CROSS JOIN tot
        """


# Quality filter stack (FineWeb/RefinedWeb style): independent signals
# vote, and a document survives on a majority — one noisy filter can't
# delete a good document alone.
QE_HEUR_MIN = 0.25  # heuristic score floor (≈40th pct on testdata)
QE_LM_MAX_BITS = 4.91  # same bound as the quality pipeline's LM gate


def quality_ensemble(docs: DataFrame) -> DataFrame:
    """Majority-vote quality filter over three INDEPENDENT signals:
    the length/punct/stopword heuristic, the corpus bigram-LM
    perplexity proxy, and the hashed linear classifier. Votes are on
    the ROUNDED published scores (cross-engine stable) and on the
    classifier's integer logit (sign-exact); a doc the LM cannot score
    (no bigrams) simply loses that vote rather than erroring.

    Plan shape: heuristic and classifier are one corpus pass each
    (projection / one doc_id agg), the LM adds its model pass; the
    final join is per-doc on doc_id — three skinny relations, AQE
    picks the strategy. The composition is the point: each leg is the
    SAME operator exposed individually (and separately oracle-gated),
    stacked the way production filter pipelines stack them."""
    heur = quality_score(docs).select("doc_id", "quality_score")
    lm = bigram_lm_quality(docs).select("doc_id", "bits_per_bigram")
    clf = quality_classifier(docs).select("doc_id", "logit_centisum")
    j = heur.join(lm, "doc_id", "left").join(clf, "doc_id", "left")
    v_heur = F.when(F.col("quality_score") > QE_HEUR_MIN, 1).otherwise(0)
    v_lm = F.when(F.col("bits_per_bigram") <= QE_LM_MAX_BITS, 1).otherwise(0)
    v_clf = F.when(F.col("logit_centisum") >= 0, 1).otherwise(0)
    out = j.select(
        "doc_id",
        v_heur.cast("int").alias("vote_heuristic"),
        v_lm.cast("int").alias("vote_lm"),
        v_clf.cast("int").alias("vote_classifier"),
    )
    n_votes = (
        F.col("vote_heuristic") + F.col("vote_lm") + F.col("vote_classifier")
    ).cast("int")
    return out.withColumn("n_votes", n_votes).withColumn(
        "keep", F.col("n_votes") >= 2
    )


def quality_score_oracle_ctes() -> str:
    """The heuristic-score computation as CTEs ending in
    ``hq(doc_id, n_tokens, punct_ratio, stopword_ratio,
    quality_score)`` — ONE definition shared by the standalone oracle
    and the ensemble's vote_heuristic leg (review r6: an inline copy
    could silently desynchronize them)."""
    sw_en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""hq_t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                        x -> x IN ({sw_en}))) AS BIGINT) AS swc
            FROM documents
        ), hq AS (
            SELECT doc_id, n_tokens,
                   round(punct / n_chars, 4) AS punct_ratio,
                   round(swc / n_tokens, 4) AS stopword_ratio,
                   round(least(1.0, n_tokens / 100.0) * (1 - punct / n_chars)
                         * (0.5 + 0.5 * (swc / n_tokens)), 4) AS quality_score
            FROM hq_t
        )"""


def quality_ensemble_oracle_sql() -> str:
    """DuckDB twin — composes the three legs' own CTE chains and the
    identical vote expressions."""
    return rf"""
        WITH {quality_score_oracle_ctes()}, {bigram_lm_oracle_ctes()}, {quality_classifier_oracle_ctes()},
        votes AS (
            SELECT hq.doc_id,
                   CASE WHEN hq.quality_score > {QE_HEUR_MIN} THEN 1 ELSE 0 END
                       AS vote_heuristic,
                   CASE WHEN lmq.bits_per_bigram <= {QE_LM_MAX_BITS} THEN 1 ELSE 0 END
                       AS vote_lm,
                   CASE WHEN qc_agg.logit_centisum >= 0 THEN 1 ELSE 0 END
                       AS vote_classifier
            FROM hq
            LEFT JOIN lmq ON lmq.doc_id = hq.doc_id
            LEFT JOIN qc_agg ON qc_agg.doc_id = hq.doc_id
        )
        SELECT doc_id,
               CAST(vote_heuristic AS INT) AS vote_heuristic,
               CAST(vote_lm AS INT) AS vote_lm,
               CAST(vote_classifier AS INT) AS vote_classifier,
               CAST(vote_heuristic + vote_lm + vote_classifier AS INT) AS n_votes,
               (vote_heuristic + vote_lm + vote_classifier) >= 2 AS keep
        FROM votes
        """


# PII-ish patterns: email-like tokens and long digit runs (IDs, phone
# fragments). Deliberately simple — the operator demonstrates the
# redact-and-account plan shape; production swaps in a fuller ruleset.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_DIGITS = r"[0-9]{4,}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing: redact email-like tokens and ≥4-digit runs,
    emitting the redacted-text fingerprint plus per-doc redaction
    counts (the audit trail a compliance pipeline must keep). Pure
    regexp expressions — single projection pass, no shuffle, no
    Python."""
    email_pass = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(email_pass, _PII_DIGITS, "<NUM>")
    n_emails = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), F.lit(0))
    ).cast("int")
    # counted on the EMAIL-REDACTED intermediate, not the raw text: a
    # digit run inside an address ('user1234@...') is consumed by the
    # first pass and never becomes a <NUM> replacement — counting it
    # would overstate the audit trail (code-review r6 finding).
    n_digit_runs = F.size(
        F.regexp_extract_all(email_pass, F.lit(_PII_DIGITS), F.lit(0))
    ).cast("int")
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        n_emails.alias("n_email_redactions"),
        n_digit_runs.alias("n_number_redactions"),
        F.length(redacted).cast("bigint").alias("redacted_chars"),
    )


SPLIT_RATES = {"train": 90, "val": 5, "test": 5}
SAMPLE_RATES = {"en": 100, "es": 50, "de": 50, "fr": 25, "zh": 25}


def stratified_sample(docs: DataFrame, rates: dict[str, int] | None = None) -> DataFrame:
    """Reproducible stratified sampling: keep a doc iff
    ``H32(doc_id) % 100 < rate[lang]`` — the hash-mod scheme production
    pipelines use instead of RNG sampling precisely because it is
    deterministic, stable under re-runs/retries, and needs no state.
    Pure projection + filter; no shuffle, no sampling state."""
    rates = rates or SAMPLE_RATES
    bucket = F.expr(h32_spark_sql("CAST(doc_id AS STRING)")) % 100
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in sorted(rates.items())],
        F.lit(0),
    )
    return (
        docs.withColumn("__b", bucket)
        .filter(F.col("__b") < rate)
        .select("doc_id", "lang", F.col("__b").cast("int").alias("sample_bucket"))
    )


def train_val_test_split(docs: DataFrame) -> DataFrame:
    """Deterministic 90/5/5 split by content-independent hash of the
    id — membership never changes as the corpus grows or re-shards
    (the property RNG splits lack). Projection-only."""
    b = F.expr(h32_spark_sql("CAST(doc_id AS STRING)")) % 100
    split = (
        F.when(b < SPLIT_RATES["train"], "train")
        .when(b < SPLIT_RATES["train"] + SPLIT_RATES["val"], "val")
        .otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


def nfc_normalize_strings(df: DataFrame, col: str = "raw") -> DataFrame:
    """Unicode NFC normalization of a string column — the canonical
    first step of text canonicalization (decomposed e+COMBINING ACUTE
    and composed é must dedup/fingerprint identically). Spark has no
    built-in Unicode normalizer, so this is an Arrow-batched map
    kernel over C-backed ``unicodedata`` — no shuffle, no per-row
    Python function calls beyond the normalize itself; NULL passes
    through as NULL (the SQL contract, matching DuckDB's
    ``nfc_normalize``). Adds an ``nfc`` column; downstream metrics
    (lengths, digests) stay JVM-side built-ins."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def run(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf["nfc"] = pdf[col].map(
                lambda s: None if s is None else unicodedata.normalize("NFC", s)
            )
            yield pdf

    return df.mapInPandas(run, schema=f"{fields}, nfc string")


def cms_oracle_sql(
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH, k: int = CMS_TOPK
) -> str:
    """DuckDB replay of :func:`cms_heavy_hitters` — same md5-derived
    (a, b) literals, same modular bucket arithmetic (a·x ≤ 2^62, int64-
    safe in both engines), same min-of-rows estimate."""
    from kafka_topic_dumper_spark.functions.portable_hash import (
        HASH_DOMAIN31,
        MERSENNE61,
        cms_params,
    )

    params = cms_params(depth)
    rb_occ = "\n            UNION ALL\n            ".join(
        f"SELECT {i} AS r, (({a} * x + {b}) % {MERSENNE61}) % {width} AS bkt"
        " FROM hx"
        for i, (a, b) in enumerate(params)
    )
    rb_key = "\n            UNION ALL\n            ".join(
        f"SELECT bigram, exact, {i} AS r,"
        f" (({a} * x + {b}) % {MERSENNE61}) % {width} AS bkt FROM exact_t"
        for i, (a, b) in enumerate(params)
    )
    return f"""
        WITH toks AS (
            SELECT string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), occ AS (
            SELECT unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks
        ), hx AS (
            SELECT bigram,
                   ({h32_duckdb_sql('bigram')} % {HASH_DOMAIN31}) AS x
            FROM occ
        ), rb AS (
            {rb_occ}
        ), counters AS (
            SELECT r, bkt, count(*) AS c FROM rb GROUP BY 1, 2
        ), exact_t AS (
            SELECT bigram, x, count(*) AS exact FROM hx GROUP BY 1, 2
        ), bk AS (
            {rb_key}
        ), est AS (
            SELECT bigram, exact, min(c.c) AS est
            FROM bk JOIN counters c USING (r, bkt)
            GROUP BY 1, 2
        )
        SELECT bigram,
               CAST(est AS BIGINT) AS est_count,
               CAST(exact AS BIGINT) AS exact_count,
               CAST(est - exact AS BIGINT) AS overcount
        FROM est
        ORDER BY est DESC, bigram
        LIMIT {k}
        """


def hll_oracle_sql() -> str:
    """DuckDB replay of the 64-register HLL over per-source shingles —
    shared by the batch row and the streaming-drained-register row
    (identical semantics by construction: register MAX is
    batch-boundary- and duplicate-insensitive)."""
    return f"""
        WITH toks AS (
            SELECT source, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                       AS shingle
            FROM toks
        ), hx AS (
            SELECT source, {h32_duckdb_sql('shingle')} AS x FROM sh
        ), rb AS (
            SELECT source, x, x % {HLL_M} AS bucket, x // {HLL_M} AS w
            FROM hx
        ), rho_t AS (
            SELECT source, x, bucket,
                   CASE WHEN w = 0 THEN 27
                        ELSE 27 - length(ltrim(bin(w), '0')) END AS rho
            FROM rb
        ), regs AS (
            SELECT source, bucket, max(rho) AS mreg
            FROM rho_t GROUP BY 1, 2
        ), per AS (
            SELECT source, count(*) AS present,
                   sum(CAST(1 AS DOUBLE) / (1::BIGINT << mreg)) AS s_present
            FROM regs GROUP BY 1
        ), exact AS (
            SELECT source, count(DISTINCT x) AS n_exact FROM hx GROUP BY 1
        )
        SELECT p.source,
               CAST(e.n_exact AS BIGINT) AS n_exact,
               CAST({HLL_M} - p.present AS INTEGER) AS zero_registers,
               CAST(0.709 AS DOUBLE) * 4096
                   / (p.s_present + CAST({HLL_M} - p.present AS DOUBLE))
                   AS hll_estimate
        FROM per p JOIN exact e ON p.source = e.source
        ORDER BY p.source
        """


def register(reg) -> None:
    sw = {k: ", ".join(f"'{w}'" for w in v) for k, v in STOPWORDS.items()}

    @reg(
        "text_unicode_normalize",
        """
        WITH dec AS (
            SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS raw
            FROM documents
        ), n AS (
            SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM dec
        )
        SELECT doc_id,
               CAST(length(raw) AS BIGINT) AS len_decomposed,
               CAST(length(nfc) AS BIGINT) AS len_nfc,
               CAST(length(raw) - length(nfc) AS BIGINT) AS n_composed,
               md5(nfc) AS nfc_md5
        FROM n
        """,
    )
    def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Unicode NFC canonicalization (round 8): every 'e' in the
        corpus is decomposed to e+U+0301, then the Arrow unicodedata
        kernel re-composes — code-point lengths and the md5 of the
        normalized text are checked against DuckDB's nfc_normalize,
        so the two engines' Unicode tables are differentially pinned
        per document."""
        docs = load_table(spark, sf_dir, "documents")
        dec = docs.select(
            "doc_id",
            # explicit escape below: the replacement must be the DECOMPOSED
            # two-code-point sequence e + U+0301 COMBINING ACUTE, never a
            # source-encoding-dependent precomposed literal
            F.replace(
                F.col("text"), F.lit("e"), F.lit("e\u0301")
            ).alias("raw"),
        )
        n = nfc_normalize_strings(dec, "raw")
        return n.select(
            "doc_id",
            F.length("raw").cast("long").alias("len_decomposed"),
            F.length("nfc").cast("long").alias("len_nfc"),
            (F.length("raw") - F.length("nfc")).cast("long").alias("n_composed"),
            F.md5(F.encode(F.col("nfc"), "UTF-8")).alias("nfc_md5"),
        )

    @reg(
        "text_lang_id",
        f"""
        WITH t AS (
            SELECT doc_id, lang, text,
                   string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(toks, x -> x IN ({sw['en']}))) AS INTEGER) AS s_en,
                   CAST(len(list_filter(toks, x -> x IN ({sw['es']}))) AS INTEGER) AS s_es,
                   CAST(len(list_filter(toks, x -> x IN ({sw['de']}))) AS INTEGER) AS s_de,
                   CAST(len(list_filter(toks, x -> x IN ({sw['fr']}))) AS INTEGER) AS s_fr,
                   CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS INTEGER) AS s_zh
            FROM t
        )
        SELECT doc_id,
               CASE WHEN s_zh > 0 THEN 'zh'
                    WHEN s_en >= greatest(s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
                    WHEN s_es >= greatest(s_de, s_fr) AND s_es > 0 THEN 'es'
                    WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                    WHEN s_fr > 0 THEN 'fr'
                    ELSE 'und' END AS pred_lang,
               lang AS labeled_lang
        FROM s
        """,
    )
    def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stopword/CJK-heuristic language ID per document."""
        return lang_id(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_quality_score",
        f"""
        WITH {quality_score_oracle_ctes()}
        SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, quality_score
        FROM hq
        """,
    )
    def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Length/punct/stopword quality heuristic per document."""
        return quality_score(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_token_stats",
        r"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks,
                   regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]') AS pieces
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_ws_tokens,
               CAST(len(pieces) AS BIGINT) AS n_bpe_pieces,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
               round(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                     / len(toks), 4) AS mean_token_len
        FROM t
        """,
    )
    def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Whitespace + BPE-ish-regex token statistics per document."""
        return token_stats(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_source_profile",
        """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY source
        """,
    )
    def text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source corpus profile (docs, language spread, size
        stats) — the mix-monitoring query a multi-source training
        pipeline keys its sampling weights on."""
        docs = load_table(spark, sf_dir, "documents")
        return docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )

    @reg(
        "text_redact_pii",
        r"""
        WITH ep AS (
            SELECT doc_id, text,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS email_pass
            FROM documents
        ), r AS (
            SELECT doc_id,
                   regexp_replace(email_pass, '[0-9]{4,}', '<NUM>', 'g')
                       AS redacted,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS INTEGER) AS n_email_redactions,
                   CAST(len(regexp_extract_all(email_pass, '[0-9]{4,}'))
                       AS INTEGER) AS n_number_redactions
            FROM ep
        )
        SELECT doc_id, md5(redacted) AS redacted_md5,
               n_email_redactions, n_number_redactions,
               CAST(length(redacted) AS BIGINT) AS redacted_chars
        FROM r
        """,
    )
    def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Regex PII redaction with audit counts (emails, digit
        runs)."""
        return redact_pii(load_table(spark, sf_dir, "documents"))

    h32_doc = h32_duckdb_sql("CAST(doc_id AS VARCHAR)")

    @reg(
        "sample_stratified_by_lang",
        f"""
        SELECT doc_id, lang,
               CAST(({h32_doc} % 100) AS INTEGER) AS sample_bucket
        FROM documents
        WHERE ({h32_doc} % 100) <
              CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 50
                        WHEN 'de' THEN 50 WHEN 'fr' THEN 25
                        WHEN 'zh' THEN 25 ELSE 0 END
        """,
    )
    def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic hash-mod stratified sampling per language."""
        return stratified_sample(load_table(spark, sf_dir, "documents"))

    @reg(
        "sample_train_val_test_split",
        f"""
        SELECT doc_id,
               CASE WHEN ({h32_doc} % 100) < 90 THEN 'train'
                    WHEN ({h32_doc} % 100) < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        """,
    )
    def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic 90/5/5 train/val/test assignment by id hash."""
        return train_val_test_split(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_bigram_lm_quality",
        f"""
        WITH {bigram_lm_oracle_ctes()}
        SELECT doc_id, n_bigrams, bits_per_bigram, ppl_proxy FROM lmq
        """,
    )
    def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-trained bigram-LM perplexity proxy per document."""
        return bigram_lm_quality(load_table(spark, sf_dir, "documents"))

    @reg("text_source_entropy", source_token_entropy_oracle_sql())
    def text_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source Shannon token entropy (round 9) — the
        diversity-collapse monitor beside the share-drift row."""
        return source_token_entropy(load_table(spark, sf_dir, "documents"))

    @reg("text_source_snapshot_jsd", source_snapshot_jsd_oracle_sql())
    def text_source_snapshot_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source Jensen–Shannon divergence between snapshot token
        distributions (round 9) — vocabulary drift at constant volume,
        the metric share-drift cannot see."""
        return source_snapshot_jsd(load_table(spark, sf_dir, "documents"))

    @reg("text_kneser_ney_quality", kneser_ney_oracle_sql())
    def text_kneser_ney_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Interpolated Kneser–Ney bigram scoring (round 9): absolute
        discounting with continuation-probability backoff — the
        production n-gram smoothing next to the add-one baseline."""
        return kneser_ney_quality(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_token_doc_frequency",
        r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split_regex(lower(text), '\s+')))
                       AS tok
            FROM documents
        )
        SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq
        FROM toks GROUP BY tok
        ORDER BY doc_freq DESC, tok
        LIMIT 50
        """,
    )
    def text_token_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-50 tokens by document frequency (stopword discovery)."""
        return token_doc_frequency(load_table(spark, sf_dir, "documents"))

    @reg("retrieval_hybrid_rrf", hybrid_rrf_oracle_sql())
    def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hybrid lexical+semantic top-10: BM25 ∪ exact-cosine lists
        fused by reciprocal-rank fusion (rank-only, no score
        normalization; fusion join runs over 2·50 rows)."""
        return hybrid_rrf(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings"),
        )

    @reg("stats_corpus_drift", corpus_drift_oracle_sql())
    def stats_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source token-share drift between two deterministic
        corpus snapshots (data-quality monitoring primitive)."""
        return corpus_drift(load_table(spark, sf_dir, "documents"))

    @reg("pipeline_quality_ensemble", quality_ensemble_oracle_sql())
    def pipeline_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Majority-vote filter stack: heuristic + bigram-LM +
        classifier signals, 2-of-3 keeps the document."""
        return quality_ensemble(load_table(spark, sf_dir, "documents"))

    @reg("text_quality_classifier", quality_classifier_oracle_sql())
    def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hashed-bag-of-words linear quality classifier (fastText-style
        architecture; integer logits, sign-exact keep decision)."""
        return quality_classifier(load_table(spark, sf_dir, "documents"))

    @reg("text_bm25_topk", bm25_oracle_sql())
    def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 documents by BM25 for a fixed 4-term query
        (lexical-retrieval primitive; filter-before-explode,
        broadcast df/corpus stats, TakeOrdered top-k)."""
        return bm25_topk(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_mean_token_df",
        r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split_regex(lower(text), '\s+')))
                       AS tok
            FROM documents
        ), dft AS (
            SELECT tok, count(*) AS df FROM toks GROUP BY tok
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_distinct_tokens,
               sum(df) / count(*) AS mean_token_df
        FROM toks JOIN dft USING (tok)
        GROUP BY doc_id
        """,
    )
    def text_mean_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Mean token document-frequency per doc (corpus-relative
        fluency proxy)."""
        return mean_token_df(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_repetition_quality",
        r"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(lower(text), '\s+') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, text, toks,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1]) AS g2
            FROM t
        ), m AS (
            SELECT doc_id,
                   CAST(len(g2) AS BIGINT) AS n_g,
                   CAST(len(list_distinct(g2)) AS BIGINT) AS n_d,
                   CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                        AS BIGINT) AS symbols,
                   CAST(list_sum(list_transform(toks,
                        x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS word_chars,
                   CAST(len(toks) AS BIGINT) AS n_tokens
            FROM g
        )
        SELECT doc_id,
               CASE WHEN n_g > 0 THEN round((n_g - n_d) / n_g, 4)
                    ELSE 0.0 END AS dup_2gram_frac,
               round(symbols / word_chars, 4) AS symbol_word_ratio,
               round(word_chars / n_tokens, 4) AS mean_word_len
        FROM m
        """,
    )
    def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style repetition / symbol-ratio / word-length quality
        signals per document."""
        return repetition_quality(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_winnowing_fingerprints",
        rf"""
        WITH base AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
            FROM documents
        ), b2 AS (
            SELECT doc_id, t, greatest(length(t) - 7, 1) AS maxpos FROM base
        ), grams AS (
            SELECT doc_id, maxpos, unnest(range(1, maxpos + 1)) AS pos, t
            FROM b2
        ), hashed AS (
            SELECT doc_id, maxpos, pos,
                   {h32_duckdb_sql('substr(t, pos, 8)')} AS h
            FROM grams
        ), wm AS (
            SELECT doc_id, maxpos, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM hashed
        )
        SELECT DISTINCT doc_id, wmin AS fingerprint
        FROM wm WHERE pos <= maxpos - 3
        """,
    )
    def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Winnowing (k=8, w=4) rolling-hash fingerprints per doc."""
        return winnowing_fingerprints(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_lang_corpus_stats",
        f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(list_filter(toks, x -> x IN ({sw['en']}))) AS INTEGER) AS s_en,
                   CAST(len(list_filter(toks, x -> x IN ({sw['es']}))) AS INTEGER) AS s_es,
                   CAST(len(list_filter(toks, x -> x IN ({sw['de']}))) AS INTEGER) AS s_de,
                   CAST(len(list_filter(toks, x -> x IN ({sw['fr']}))) AS INTEGER) AS s_fr,
                   CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS INTEGER) AS s_zh
            FROM t
        ), pred AS (
            SELECT doc_id, n_tokens, n_chars,
                   CASE WHEN s_zh > 0 THEN 'zh'
                        WHEN s_en >= greatest(s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
                        WHEN s_es >= greatest(s_de, s_fr) AND s_es > 0 THEN 'es'
                        WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                        WHEN s_fr > 0 THEN 'fr'
                        ELSE 'und' END AS pred_lang
            FROM s
        )
        SELECT pred_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(n_tokens), 4) AS avg_tokens,
               round(avg(n_chars), 4) AS avg_chars
        FROM pred GROUP BY pred_lang
        """,
    )
    def text_lang_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-predicted-language corpus statistics (lang ID ⋈ token
        counts → aggregate)."""
        return lang_corpus_stats(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_fingerprint",
        r"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
               CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT)
                   AS norm_chars
        FROM documents
        """,
    )
    def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
        """md5 fingerprint of whitespace-normalized text."""
        return fingerprint(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_contamination_overlap",
        f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, {h60_duckdb_sql('g')} AS gh
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - 2),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
                  FROM toks)
        ), probe AS (
            SELECT doc_id AS probe_id, gh FROM grams
            WHERE doc_id % {CONTAMINATION_PROBE_MOD} = 0
        ), probe_counts AS (
            SELECT probe_id, CAST(count(*) AS BIGINT) AS probe_ngrams
            FROM probe GROUP BY probe_id
        ), hits AS (
            SELECT g.doc_id, p.probe_id, CAST(count(*) AS BIGINT) AS n_common
            FROM grams g
            JOIN probe p ON g.gh = p.gh AND g.doc_id <> p.probe_id
            GROUP BY g.doc_id, p.probe_id
        )
        SELECT h.doc_id, h.probe_id, h.n_common, pc.probe_ngrams
        FROM hits h JOIN probe_counts pc ON pc.probe_id = h.probe_id
        """,
    )
    def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Benchmark-decontamination overlap counts (4-gram portable
        hashes vs the doc_id %% 25 probe slice); integer-only output."""
        return contamination_overlap(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_quality_calibrated_rank",
        """
        WITH {hq}, src AS (
            SELECT hq.doc_id, d.source, hq.quality_score
            FROM hq JOIN documents d ON d.doc_id = hq.doc_id
            WHERE hq.quality_score IS NOT NULL AND NOT isnan(hq.quality_score)
        ), ranked AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY quality_score DESC, doc_id) AS BIGINT)
                       AS rank_in_source,
                   CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_source
            FROM src
        )
        SELECT doc_id, source, rank_in_source, n_source,
               CAST(CASE WHEN 2 * rank_in_source <= n_source
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_top_half
        FROM ranked
        """.format(hq=quality_score_oracle_ctes()),
    )
    def text_quality_calibrated_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source quality rank + top-half keep flag (global-cutoff
        domain-starvation correction); integer rank over the rounded
        score, doc_id tie-break."""
        return quality_calibrated_rank(load_table(spark, sf_dir, "documents"))

    @reg(
        "sample_token_budget",
        """
        WITH {hq}, scored AS (
            SELECT doc_id, n_tokens,
                   CAST(-round(quality_score * 10000) AS BIGINT) AS qkey
            FROM hq
            WHERE quality_score IS NOT NULL AND NOT isnan(quality_score)
        ), ordered AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY qkey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s
            FROM scored
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(coalesce(s, 0) + n_tokens AS BIGINT) AS cum_tokens
        FROM ordered
        WHERE coalesce(s, 0) + n_tokens <= {budget}
        """.format(hq=quality_score_oracle_ctes(), budget=TOKEN_BUDGET_DEFAULT),
    )
    def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Greedy quality-first selection under a 15k-token budget via
        the distributed ordered prefix sum."""
        return token_budget_selection(load_table(spark, sf_dir, "documents"))

    @reg(
        "curation_pareto_frontier",
        r"""
        WITH m AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(len(list_distinct(string_split_regex(lower(text),
                        '\s+'))) AS BIGINT) AS n_distinct_tokens
            FROM documents
        )
        SELECT doc_id, n_chars, n_distinct_tokens
        FROM m a
        WHERE NOT EXISTS (
            SELECT 1 FROM m b
            WHERE b.n_chars <= a.n_chars
              AND b.n_distinct_tokens >= a.n_distinct_tokens
              AND (b.n_chars < a.n_chars
                   OR b.n_distinct_tokens > a.n_distinct_tokens)
        )
        """,
    )
    def curation_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Non-dominated docs on (shorter, more lexically diverse) via
        the distributed prefix-max frontier (round 8). The oracle is
        the QUADRATIC dominance definition, so a hash-match proves the
        O(n log n) plan computes the textbook skyline."""
        return pareto_frontier(load_table(spark, sf_dir, "documents"))

    @reg("text_hll_shingle_cardinality", hll_oracle_sql())
    def text_hll_shingle_cardinality(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-source distinct-shingle cardinality by a 64-register
        HyperLogLog (round 8); exact count alongside to expose the
        approximation error; fixed 64-row state per group."""
        return hll_shingle_cardinality(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_vocab_growth",
        r"""
        WITH bg AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM (
                SELECT doc_id,
                       string_split_regex(lower(text), '\s+') AS t
                FROM documents
            )
        ), first AS (
            SELECT bigram, min(doc_id) AS first_doc FROM bg GROUP BY 1
        ), news AS (
            SELECT first_doc AS doc_id, count(*) AS new_bigrams
            FROM first GROUP BY 1
        )
        SELECT doc_id,
               CAST(new_bigrams AS BIGINT) AS new_bigrams,
               CAST(sum(new_bigrams) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vocab_size
        FROM news
        """,
    )
    def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bigram vocabulary growth curve in ingestion order (round 8)
        — first occurrences from the inverted-index shuffle, cumsum
        via the distributed prefix sum; oracle replays it serially."""
        return vocab_growth(load_table(spark, sf_dir, "documents"))

    @reg(
        "text_tfidf_keywords",
        r"""
        WITH tf AS (
            SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
                       AS tok
            FROM documents
        ), tfc AS (
            SELECT doc_id, tok, count(*) AS tf FROM tf GROUP BY 1, 2
        ), dfc AS (
            SELECT tok, count(*) AS df FROM tfc GROUP BY 1
        ), scored AS (
            SELECT t.doc_id, t.tok,
                   CAST(t.tf * (SELECT count(*) FROM documents) AS DOUBLE)
                       / CAST(d.df AS DOUBLE) AS score
            FROM tfc t JOIN dfc d ON t.tok = d.tok
        )
        SELECT doc_id, tok AS keyword,
               CAST(rnk AS INTEGER) AS rnk, score
        FROM (
            SELECT doc_id, tok, score,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, tok
                   ) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
        """,
    )
    def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-3 keywords per doc by the log-free tf·N/df score
        (round 8): one exact integer product, one IEEE division,
        deterministic (score DESC, token ASC) order — bit-reproducible
        keyword sets cross-engine."""
        return tfidf_keywords(load_table(spark, sf_dir, "documents"))

    @reg("text_cms_heavy_hitters", cms_oracle_sql())
    def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-25 bigram heavy hitters via a 3×64 count-min sketch
        (round 8), exact counts alongside to surface the one-sided
        overestimate; the 192-counter sketch is the only state that
        ever crosses the shuffle."""
        return cms_heavy_hitters(load_table(spark, sf_dir, "documents"))
