"""Deduplication operators for LLM training-data pipelines (SURVEY §2.10).

Five strategies, each scale-conscious:

- exact        — hash-groupBy on a content digest (never shuffles raw text)
- ngram-jaccard— exact Jaccard over word shingles via inverted-index
                 self-join (the classic "join on shingle, count common"
                 plan; no O(n²) crossJoin), document-frequency-capped so
                 one viral boilerplate shingle can't go quadratic
- minhash-LSH  — signature + banding; candidate pairs verified with
                 exact Jaccard. The 100 TB path: cost is O(n·k) + the
                 band-bucket join, never all-pairs.
- simhash      — 64-bit fingerprints + banded hamming join
- embedding    — cosine near-dup over `array<float>`: sign-LSH bucket
                 candidates + exact-cosine verify (all-pairs exists only
                 as the recall-test baseline)

All pure DataFrame ops — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions.portable_hash import (
    HASH_DOMAIN31,
    MERSENNE61,
    h32_duckdb_sql,
    h32_spark_sql,
    h60_duckdb_sql,
    minhash_params,
)
from kafka_topic_dumper_spark.functions import trained_oracles
from kafka_topic_dumper_spark.functions.parallelism import (
    spread_input as _spread_corpus,
)
from kafka_topic_dumper_spark.sources.tables import load_table

# --- shared shingle/token helpers (JVM-side lambda expressions) -----------

_TOKENS = "split(lower(text), '\\\\s+')"
# word 3-gram shingles, distinct per doc; tokens[] is 0-based in Spark
# SQL. Guarded: sequence(0, n) DESCENDS when n < 0, so docs with < 3
# tokens would index out of bounds (ANSI error) without the CASE —
# they must simply produce no shingles (matching the oracle's
# range(1, len-1), which is empty there).
_SHINGLES = (
    "CASE WHEN size({t}) >= 3 THEN "
    "array_distinct(transform(sequence(0, size({t}) - 3), "
    "i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2]))) "
    "ELSE CAST(array() AS array<string>) END"
).format(t="tokens")


def shingled(docs: DataFrame) -> DataFrame:
    """documents → exploded (doc_id, shingle), distinct per doc.

    Deliberately NOT input-spread here (r18 A/B): the inverted-index
    consumers whose WARM path re-runs this explode each query
    (ngram_jaccard/containment, setsim) spread their own input at the
    call site and measured −12..−30%; the minhash/verify consumers
    cache the shingle pass inside their first run, so a spread here
    only inflated their tiny downstream relations to 32 partitions —
    measured dedup_minhash_lsh 1.05 → 1.41 s, dedup_quality_survivor
    3.32 → 4.06 s before the revert."""
    return (
        docs.select("doc_id", F.expr(_TOKENS).alias("tokens"))
        .select("doc_id", F.explode(F.expr(_SHINGLES)).alias("shingle"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content digest. GroupBy on sha256(text) — at scale
    the shuffle key is a 32-byte digest, not the document body, and the
    aggregate is partial (map-side combine)."""
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("text_sha256"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("text_sha256", "keep_doc_id", "n_copies")
    )


def canonical_mapping(docs: DataFrame) -> DataFrame:
    """Dedup as a corpus transformation: every doc mapped to its
    group's canonical survivor (min doc_id per normalized-text group) —
    the row-level output a pipeline actually applies, vs exact_dedup's
    group summary. Normalization = whitespace-collapse + lowercase.
    One window over the md5 group key; the shuffle carries the 32-char
    digest, never the text."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", F.md5(norm).alias("fp"))
        .withColumn("keep_doc_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "keep_doc_id",
            (F.col("doc_id") != F.col("keep_doc_id")).cast("int").alias("is_dup"),
        )
    )


def quality_survivor_mapping(
    docs: DataFrame, jaccard_min: float = 0.5
) -> DataFrame:
    """NEAR-dup dedup with QUALITY-AWARE survivor selection: MinHash
    clusters (connected components over verified pairs at
    jaccard ≥ ``jaccard_min``), but the kept copy per cluster is the
    HIGHEST-QUALITY member (classifier logit), not the lowest id — the
    production choice when near-duplicates differ in cleanliness
    (truncation, boilerplate, encoding damage) and you want the best
    exemplar, not the first-crawled one. (For EXACT duplicates the
    distinction is vacuous — identical normalized text ⇒ identical
    token multiset ⇒ identical logit — which is why this operates on
    near-dup clusters and :func:`canonical_mapping` keeps the simple
    min-id rule.)

    Exactness: the quality key is the classifier's INTEGER centi-logit
    (exact under any aggregation order), tie-broken by doc_id. Plan:
    the minhash/banding/verify chain and the component closure are the
    same operators exposed individually; the survivor pick adds one
    window over cluster-id-sized keys. NULL-text docs have no
    classifier row and drop out of the mapping (both engines agree);
    run the quarantining ingest first — a NULL document has no
    quality to rank."""
    from kafka_topic_dumper_spark.operators.graph import connected_components
    from kafka_topic_dumper_spark.operators.text import quality_classifier

    strong = (
        minhash_lsh_dedup(docs)
        .filter(F.col("jaccard") >= jaccard_min)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(strong, "doc_a", "doc_b")
    grp = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("component_id", "doc_id").alias("grp"))
    )
    q = quality_classifier(docs).select("doc_id", "logit_centisum")
    w = Window.partitionBy("grp").orderBy(
        F.col("logit_centisum").desc(), F.col("doc_id")
    )
    return (
        grp.join(q, "doc_id")
        .withColumn("keep_doc_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "keep_doc_id",
            (F.col("doc_id") != F.col("keep_doc_id")).cast("int").alias("is_dup"),
        )
    )


NGRAM_MAX_DF = 100


def ngram_jaccard_pairs(docs: DataFrame, max_df: int = NGRAM_MAX_DF) -> DataFrame:
    """Exact n-gram Jaccard for every co-shingled pair via inverted
    index, keyed by a 60-bit md5-prefix hash of the shingle (an 8-byte
    shuffle key instead of the ~20-byte string — ~2.5× less shuffle
    data; the hash is engine-portable so the oracle sees identical
    keys, collisions included).

    Document-frequency cap: a shingle appearing in d docs produces d²
    candidate pairs, so ONE viral boilerplate string is a single-key
    quadratic blowup AND a skew hotspot at corpus scale. Shingles with
    df > ``max_df`` carry no discriminative signal (corpus furniture,
    not content) and are dropped. The oracle mirrors the cap, so the
    comparison stays exact.

    Plan shape (r3 rewrite — the r2 form computed the hot set with a
    DEDICATED groupBy pass + broadcast anti-join; at sf0.1 there are
    zero hot shingles, so that pass was ~25% pure overhead, the
    BENCH_r02 regression): ONE shuffle of the index by sh_h serves
    everything downstream —

    - df per shingle is a window COUNT over that partitioning (no
      second pass; WindowExec spills per-key, so a viral shingle
      degrades to disk, never OOM), then rows with df > max_df drop;
    - pair generation is collect_list per shingle + a double explode
      (doc_a < doc_b) — NO self-join. The list is provably bounded by
      ``max_df`` elements because the window cap ran first, so the
      aggregation buffer is O(max_df) per key at ANY corpus size;
    - per-doc shingle counts reuse the same exchange (AQE reuses the
      sh_h shuffle across the pair and count branches — verified in
      the final adaptive plan) and join back onto the pairs with NO
      explicit broadcast hint: counts is corpus-sized (one row per
      doc), so a forced broadcast OOMs at billions of docs (r4
      verdict). AQE still broadcasts it from runtime stats while it
      fits; at scale the join degrades to a shuffle whose small side
      is the df-capped pair set.

    Measured at sf0.1 local[32]: 2.27 s → 1.55 s best-of-4."""
    from kafka_topic_dumper_spark.functions.portable_hash import h60_spark_sql

    common, counts = _ngram_overlap(docs, max_df)
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )


def _ngram_overlap(docs: DataFrame, max_df: int):
    """The shared inverted-index core of the exact-overlap family:
    (common(doc_a < doc_b, n_common), counts(doc_id, n_shingles)) with
    the df cap applied once under a single sh_h shuffle — see
    :func:`ngram_jaccard_pairs` for the full plan-shape rationale."""
    from kafka_topic_dumper_spark.functions.portable_hash import h60_spark_sql

    # Input spread (r18, guide §2.5): this explode+md5 pass re-runs on
    # every query (nothing here is persisted — the window/collect_list
    # ride ONE sh_h exchange), and the bench-scale scan is a single
    # split, so it ran single-core. Measured on the consumers:
    # ngram_jaccard 1.8-2.2 → 1.3-1.6 s, containment similar. No-op on
    # wide deployment scans.
    sh_all = shingled(_spread_corpus(docs)).select(
        "doc_id", F.expr(h60_spark_sql("shingle")).alias("sh_h")
    )
    w = Window.partitionBy("sh_h")
    sh = (
        sh_all.withColumn("df", F.count("*").over(w))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    grouped = sh.groupBy("sh_h").agg(F.collect_list("doc_id").alias("docs"))
    pairs = (
        grouped.select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return common, counts


CONTAINMENT_MIN_PCT = 50


def ngram_containment_pairs(
    docs: DataFrame,
    max_df: int = NGRAM_MAX_DF,
    min_pct: int = CONTAINMENT_MIN_PCT,
) -> DataFrame:
    """Directed n-gram CONTAINMENT — the asymmetric cousin of Jaccard:
    ``containment(src→dst) = |grams(src) ∩ grams(dst)| / |grams(src)|``.
    The quote/excerpt/boilerplate detector Jaccard misses: a short doc
    fully embedded in a long one has low Jaccard (the union is huge)
    but 100% containment — exactly the contamination/provenance signal
    a training-data pipeline filters on (doc-in-doc, benchmark-in-
    corpus). Same single-shuffle inverted index as Jaccard (shared
    :func:`_ngram_overlap`); the score is the INTEGER percentage
    ``(100·n_common) div n_src`` so the threshold compare is bit-exact
    cross-engine — no float division anywhere."""
    common, counts = _ngram_overlap(docs, max_df)
    directed = common.select(
        F.col("doc_a").alias("src_doc"),
        F.col("doc_b").alias("dst_doc"),
        "n_common",
    ).union(
        common.select(
            F.col("doc_b").alias("src_doc"),
            F.col("doc_a").alias("dst_doc"),
            "n_common",
        )
    )
    n_src = counts.select(
        F.col("doc_id").alias("src_doc"), F.col("n_shingles").alias("n_src")
    )
    return (
        directed.join(n_src, "src_doc")
        .withColumn(
            "containment_pct",
            F.expr("(100 * n_common) div n_src").cast("int"),
        )
        .filter(F.col("containment_pct") >= min_pct)
        .select("src_doc", "dst_doc", "containment_pct")
    )


INCR_BATCH_MOD = 10

BLOOM_BITS = 2048
BLOOM_HASHES = 2

_NORM_FP = "md5(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"


def bloom_admission(
    docs: DataFrame,
    m: int = BLOOM_BITS,
    j: int = BLOOM_HASHES,
    batch_mod: int = INCR_BATCH_MOD,
) -> DataFrame:
    """Batch-vs-corpus dedup admission through a BLOOM FILTER instead
    of the exact fingerprint set (:func:`incremental_dedup`): the
    corpus is summarized as the set-bit positions of an ``m``-bit /
    ``j``-hash Bloom filter, and a new-batch doc is flagged
    ``maybe_known`` iff ALL ``j`` of its bit positions are set.

    Why this exists next to the exact path: the exact admission join
    must broadcast (or shuffle) state proportional to CORPUS
    CARDINALITY — billions of fingerprints at 100 TB — while the Bloom
    summary is a FIXED ``m`` bits no matter the corpus size, the
    standard first-stage admission filter in front of an exact check.
    The filter is represented relationally (one row per SET bit, ≤ m
    rows, broadcast) and membership is "count of matched positions =
    j" — no bitmap UDF, pure joins, so Catalyst sees everything.

    m=2048 / j=2 against ~450 corpus fingerprints is deliberately
    UNDERSIZED (~36% fill → ~13% false-positive rate) so the
    ``false_positive`` column — maybe_known but NOT actually known,
    computed against the exact set — is non-trivially exercised by the
    differential: Bloom false positives are a deterministic function
    of the md5-derived (a, b) literals (functions/portable_hash.
    bloom_params), so both engines flag the IDENTICAL docs."""
    f = bloom_fingerprints(docs)
    corpus = f.filter(F.col("doc_id") % batch_mod != 0)
    batch = f.filter(F.col("doc_id") % batch_mod == 0)
    bits = (
        corpus.select(F.explode(bloom_positions(m, j)).alias("bit")).distinct()
    )  # ≤ m rows — the whole filter state
    return bloom_admit(batch, bits, corpus.select("x").distinct(), m, j)


def bloom_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, x) normalized-text fingerprint hashes — stateless, so
    it applies unchanged to a STREAMING DataFrame (the streaming Bloom
    row reuses it)."""
    return docs.select(
        "doc_id",
        F.expr(f"{h32_spark_sql(_NORM_FP)} % {HASH_DOMAIN31}").alias("x"),
    )


def bloom_positions(m: int = BLOOM_BITS, j: int = BLOOM_HASHES):
    """array<long> of the j bit positions for the hash in column x."""
    from kafka_topic_dumper_spark.functions.portable_hash import bloom_params

    return F.array(
        *[
            F.expr(f"(({a} * x + {b}) % {MERSENNE61}) % {m}")
            for a, b in bloom_params(j)
        ]
    )


def bloom_admit(
    batch: DataFrame,
    bits: DataFrame,
    known: DataFrame,
    m: int = BLOOM_BITS,
    j: int = BLOOM_HASHES,
) -> DataFrame:
    """Admission verdicts for ``batch`` (doc_id, x) against a set-bit
    table ``bits`` (bit) — however built, batch or drained from a
    stream — plus the exact ``known`` (x) set for error surfacing."""
    probes = batch.select("doc_id", "x", F.explode(bloom_positions(m, j)).alias("bit"))
    maybe = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "x")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == j)
        .select("doc_id", "x", F.lit(1).alias("maybe_known"))
    )
    return (
        batch.join(maybe.select("doc_id", "maybe_known"), "doc_id", "left")
        .join(known.withColumnRenamed("x", "kx"), F.col("x") == F.col("kx"), "left")
        .select(
            "doc_id",
            F.coalesce("maybe_known", F.lit(0)).cast("int").alias("maybe_known"),
            F.when(F.col("kx").isNotNull(), 1).otherwise(0).cast("int").alias(
                "actually_known"
            ),
        )
        .withColumn(
            "false_positive",
            ((F.col("maybe_known") == 1) & (F.col("actually_known") == 0))
            .cast("int"),
        )
    )


EDITDIST_MAX = 30
EDITDIST_Q = 3


# _spread_corpus (imported at top): scale-adaptive parallelism guard
# for the CPU-heavy per-doc map work in this family (r18, guide §2.5 —
# bytes-vs-work mismatch at the SCAN): the sf-scale documents parquet
# arrives as a SINGLE input split, so everything below the first
# Exchange — the resurface transform, the per-char q-gram explode,
# xxhash64, the partial aggregation — ran on one core of local[32]
# (measured: the gram-count stage alone 5.9 s single-split vs 1.1 s
# spread, sf0.1). No-op on wide scans — see functions/parallelism.py.


def editdist_gram_counts(
    d: DataFrame, max_dist: int = EDITDIST_MAX, q: int = EDITDIST_Q
) -> DataFrame:
    """(doc_id, len, gh, c, band): per-doc q-gram MULTISET counts under
    xxhash64, plus the length band used by the adjacent-band join
    trick. ``d`` must carry (doc_id, text, len).

    Hash choice (r18 optimization): the gram hash never reaches any
    editdist row's OUTPUT — it only generates candidates, and every
    candidate is verified by the exact banded levenshtein; the oracles
    for all three editdist rows are the NAIVE length-pruned all-pairs
    DP, hash-free. A hash collision merges two gram groups, which only
    INFLATES the shared count (min(Σa,Σb) ≥ Σ min(a,b)), so the lemma
    filter keeps a superset and the verified output is unchanged —
    collisions can add false candidates, never drop true pairs. That
    frees this hash from the md5-portability contract the
    oracle-mirrored hashes (setsim/minhash/ngram) must keep; xxhash64
    is JVM-native and measured ~4 s cheaper on the realvocab row at
    sf0.1 (md5 is one digest per gram occurrence — corpus-sized).

    Length-band bucketing on top of any gram join: with band width
    W = D+1, any pair within the length prune differs by at most one
    band, so an a-side joins on ITS band and the b-side fans out to
    band±1 — each qualifying pair meets in exactly one key (a's
    band), no dedup needed, and the join fan-out drops from
    Σ_g df(g)² to same-or-adjacent-length-band pairs only (~6× here;
    the factor grows with length spread). Lossless: callers still
    apply the exact abs(len_a - len_b) prune."""
    grams = d.select(
        "doc_id",
        "len",
        F.explode(
            F.expr(
                f"CASE WHEN length(text) >= {q} THEN "
                f"transform(sequence(1, length(text) - {q} + 1), "
                f"i -> substring(text, i, {q})) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("g"),
    )
    band_w = max_dist + 1
    return (
        grams.groupBy("doc_id", "len", F.xxhash64("g").alias("gh"))
        .agg(F.count("*").alias("c"))
        .withColumn("band", F.expr(f"len div {band_w}"))
    )


def editdist_join_pairs(
    docs: DataFrame, max_dist: int = EDITDIST_MAX, q: int = EDITDIST_Q
) -> DataFrame:
    """All doc pairs with EXACT character edit distance ≤ ``max_dist``
    via the Q-GRAM COUNT LEMMA (Gravano et al., VLDB'01): if
    ed(a, b) ≤ D, the positional q-gram MULTISETS of a and b share at
    least ``max(|a|,|b|) - q + 1 - q·D`` grams — each edit destroys at
    most q grams. Candidates therefore come from a gram-hash join with
    a multiset-intersection count (Σ min(cnt_a, cnt_b)) against that
    bound, plus the lossless length prune ``| |a|-|b| | ≤ D`` (an edit
    changes length by ≤ 1); only surviving pairs pay the O(len²)
    levenshtein verify. Never all-pairs — the quadratic DP runs on the
    lemma survivors only.

    Short-doc completeness: when ``max(|a|,|b|) ≤ q-1+q·D`` the lemma
    bound is ≤ 0 — such a pair may share ZERO grams yet still be within
    D, so the gram join can't see it. Those docs (a corpus-skew-free
    tiny subset by definition: both sides short) get an explicit
    within-subset pair enumeration, unioned in before verification.

    Both engines implement classic unit-cost levenshtein, and the gram
    arithmetic is integer counts over the portable 60-bit gram hash —
    the oracle is the NAIVE length-pruned all-pairs scan, so the driver
    differential proves the lemma pruning lossless on this corpus."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    # Shared-derivation persists (r18, guide §2.4/§5): ``d`` feeds FOUR
    # subtrees (gcnt build, short-doc enumeration, both verify text
    # joins) and ``gcnt`` feeds BOTH candidate-join sides — Catalyst
    # reuses neither (the sides' downstream shapes differ, so no
    # ReusedExchange fires), so without the persists the base
    # projection ran ~6× per query. For the realvocab row the base
    # includes the per-token md5-derived resurface transform, which is
    # the single most expensive projection in the family. At 100 TB
    # these are the relations a deployment materializes anyway: ``d``
    # is the derived corpus (checkpoint once), ``gcnt`` is ED-Join's
    # gram-count index (the stored-index row literally writes its
    # sibling). Both are scoped by the caller's operator_caches().
    d = tracked_persist(
        _spread_corpus(
            docs.select(
                "doc_id", "text", F.length("text").cast("bigint").alias("len")
            )
        )
    )
    gcnt = tracked_persist(editdist_gram_counts(d, max_dist, q))
    # Exploding-join parallelism (r18, guide §2.2/§2.5): AQE coalesces
    # the gram-count exchange by its PRE-join byte size (~2M rows → 16
    # partitions at sf0.1), but the (gh, band) join multiplies rows
    # ~60× (117M joined rows here), so the probe side must be
    # partitioned by CORES, not bytes — half the machine sat idle
    # otherwise. Cores-derived (defaultParallelism), not a constant, so
    # a cluster deployment scales it automatically; measured 14.0 →
    # 10.4 s on the candidate stage at sf0.1 local[32].
    n_part = d.sparkSession.sparkContext.defaultParallelism * 2
    a = gcnt.repartition(n_part, "gh", "band").select(
        F.col("doc_id").alias("doc_a"),
        F.col("len").alias("len_a"),
        "gh",
        F.col("c").alias("ca"),
        "band",
    )
    b = gcnt.select(
        F.col("doc_id").alias("doc_b"),
        F.col("len").alias("len_b"),
        "gh",
        F.col("c").alias("cb"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    shared = (
        a.join(b, ["gh", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .groupBy("doc_a", "doc_b", "len_a", "len_b")
        .agg(F.sum(F.least("ca", "cb")).alias("shared"))
    )
    lemma = shared.filter(
        F.col("shared")
        >= F.greatest("len_a", "len_b") - (q - 1) - q * max_dist
    ).select("doc_a", "doc_b")

    short_cut = (q - 1) + q * max_dist
    s = d.filter(F.col("len") <= short_cut)
    sp = (
        s.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_a"))
        .join(
            s.select(
                F.col("doc_id").alias("doc_b"), F.col("len").alias("len_b")
            ),
            F.col("doc_a") < F.col("doc_b"),
        )
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .select("doc_a", "doc_b")
    )
    # Spread the DP verify across cores (r18): the candidate set is
    # byte-tiny (~23k pairs) so AQE coalesces it to ~1 partition, but
    # each pair pays an O(len·D) levenshtein — CPU-heavy rows behind a
    # byte-cheap relation, the same bytes-vs-work mismatch as the
    # exploding join above. Cores-derived round-robin repartition.
    cands = lemma.union(sp).distinct().repartition(n_part)

    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # THRESHOLD form of the DP (Spark's 3-arg levenshtein): the banded
    # algorithm — O(len·D) cells with early exit instead of the full
    # O(len²) matrix, returning -1 past the threshold. Identical
    # values for every pair this operator emits (distances ≤ D are
    # exact), so the naive-full-DP oracle is unchanged. Measured
    # honestly (SCALE_PROBE.md round 12): at sf0.1 this does NOT move
    # either bench row's wall (realvocab 23.1→22.6 s, plain ~44 s both
    # ways) — the candidate-generation gram join carries those rows,
    # not the DP. It is kept because it caps the per-pair verify at
    # O(len·D) instead of O(len²), which is the term that grows when
    # documents get long at fixed D (the 100 TB failure mode the full
    # matrix would have).
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "edit_distance",
            F.levenshtein("text_a", "text_b", max_dist).cast("int"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
    )


REALVOCAB_MOD = 1000


def resurface_vocabulary(docs: DataFrame, mod: int = REALVOCAB_MOD) -> DataFrame:
    """Deterministically diversify the synthetic corpus's vocabulary:
    each whitespace token is resurfaced as ``token || (H32(token ':'
    pos) % mod)``. The same (token, position) always maps to the same
    surface form, so genuine duplicate structure — shared prefixes,
    near-copies, exact copies — survives the transform, while the
    q-gram vocabulary grows from the synthetic ~31 words to ~31×mod
    surface forms, which is what a real crawl corpus looks like to a
    q-gram filter (SCALE_PROBE.md round 8 documents the 31-word
    pathology this lifts). The hash is the portable md5-derived H32 so
    a DuckDB oracle reproduces the text bit-identically (DuckDB's
    ``list_transform`` lambda index is 1-based; Spark's ``transform``
    is 0-based — the oracle subtracts 1)."""
    h = h32_spark_sql("concat(t, ':', CAST(i AS STRING))")
    # Spread BELOW the projection (r18, guide §2.5): the raw documents
    # scan is one input split at bench scale, so the per-token
    # md5-derived transform — the family's most expensive projection —
    # ran on one core. Exchanging the RAW rows first parallelizes the
    # transform itself; at deployment scale the scan is already wide
    # and _spread_corpus no-ops. The (doc_id, text) select sits below
    # the spread so the round-robin exchange explicitly carries only
    # those two columns (r18 advice: relying on Catalyst to push the
    # pruning under the exchange leaves the shuffle payload
    # optimizer-dependent).
    return _spread_corpus(docs.select("doc_id", "text")).select(
        "doc_id",
        F.expr(
            "concat_ws(' ', transform(split(text, ' '), "
            f"(t, i) -> concat(t, pmod({h}, {mod}))))"
        ).alias("text"),
    )


def resurface_vocabulary_duckdb(mod: int = REALVOCAB_MOD) -> str:
    """DuckDB CTE body mirroring :func:`resurface_vocabulary` —
    ``SELECT doc_id, <resurfaced> AS text FROM documents``."""
    h = h32_duckdb_sql("x || ':' || CAST(i-1 AS VARCHAR)")
    return (
        "SELECT doc_id, "
        "array_to_string(list_transform(string_split(text, ' '), "
        f"(x, i) -> x || CAST(({h}) % {mod} AS VARCHAR)), ' ') AS text "
        "FROM documents"
    )


def editdist_prefix_len(q: int = EDITDIST_Q, max_dist: int = EDITDIST_MAX) -> int:
    """Per-document prefix length of the ED-Join index for a given
    (q, max_dist): ``q·D + 1`` tokens (the prefix-filtering bound —
    see :func:`editdist_prefix_index`). The module constant
    ``EDITDIST_PREFIX_LEN`` is this value at the DEFAULT parameters
    only (q=3, D=30 → 91); non-default calls (e.g. the hypothesis
    twin at D=2 → 7) must derive their own via this function."""
    return q * max_dist + 1


EDITDIST_PREFIX_LEN = editdist_prefix_len()  # default-parameter q·D + 1 = 91


def editdist_prefix_index(
    docs: DataFrame, max_dist: int = EDITDIST_MAX, q: int = EDITDIST_Q
) -> DataFrame:
    """Build the ED-JOIN PREFIX INDEX (Xiao, Wang & Lin, VLDB'08):
    (doc_id, len, band, gh, occ) — each document's ``q·D + 1`` RAREST
    q-gram occurrences under a global rarity order.

    Token model: a doc's q-gram MULTISET is viewed as the token SET
    {(gh, occ) : occ = 1..count(gh)}, so set intersection equals the
    count-lemma overlap Σ_g min(c_a, c_b) exactly. Each edit destroys
    at most q tokens, hence pairs within distance D share at least
    t = max(|G_a|,|G_b|) − q·D tokens (Gravano's lemma restated on
    tokens). By the prefix-filtering principle under ANY fixed global
    token order, a qualifying pair must then share a token among the
    first |G| − t + 1 ≤ q·D + 1 tokens of EACH side — so indexing the
    91 rarest tokens per doc is lossless for every pair whose longer
    side exceeds the short-doc cutoff (q−1+q·D chars); shorter pairs
    are enumerated exactly, as in :func:`editdist_join_pairs`.

    Rarity order (df asc, gh, occ) makes the prefixes maximally
    selective: corpus-furniture grams land deep in every doc's order
    and never enter the index. This is the ADDITIVE diverse-corpus
    index argued in SCALE_PROBE.md round 12 — on a degenerate
    few-surface-form corpus the "rarest" grams are shared furniture
    and the prefix join degenerates toward n², which is why the
    gram-count join (:func:`editdist_join_pairs`) remains the
    corpus-shape-robust default.

    Plan shape (build, two shuffles): df per gram via a window COUNT
    under one gh exchange (the setsim precedent); per-doc rarity rank
    via row_number under one doc_id exchange. Index size ≤ 91 rows per
    doc regardless of document length — at 100 TB the materialized
    index is ~doc-count-sized, not corpus-sized."""
    d = _spread_corpus(
        docs.select(
            "doc_id", "text", F.length("text").cast("bigint").alias("len")
        )
    )
    gcnt = editdist_gram_counts(d, max_dist, q)
    toks = (
        gcnt.withColumn("df", F.count("*").over(Window.partitionBy("gh")))
        .select(
            "doc_id",
            "len",
            "band",
            "gh",
            "df",
            F.explode(F.expr("sequence(1, c)")).alias("occ"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("df", "gh", "occ")
    return (
        toks.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= editdist_prefix_len(q, max_dist))
        .select("doc_id", "len", "band", "gh", F.col("occ").cast("int").alias("occ"))
    )


def editdist_pairs_from_prefix_index(
    docs: DataFrame,
    index: DataFrame,
    max_dist: int = EDITDIST_MAX,
    q: int = EDITDIST_Q,
) -> DataFrame:
    """All pairs at exact edit distance ≤ ``max_dist`` probing a
    (possibly materialized) ED-Join prefix index from
    :func:`editdist_prefix_index` — same output contract as
    :func:`editdist_join_pairs`, so the two share one oracle.

    Candidates: prefix⋈prefix on the (gh, occ) token with the same
    adjacent-band key trick as the gram-count join (a-side joins its
    own band, b-side fans out to band±1 — every qualifying pair meets
    in exactly one key), then the exact length prune. Verify: the
    THRESHOLD (banded O(len·D)) levenshtein on the survivors only.
    Short-doc completeness (both sides ≤ q−1+q·D chars, where the
    lemma bound is vacuous): exact within-subset enumeration, unioned
    in before verification — identical to the gram-count join."""
    # Same cores-derived probe-side repartition as the gram-count join
    # (r18): the prefix⋈prefix join multiplies rows well past the
    # index's byte size, so AQE's byte-based coalescing undershoots
    # the parallelism the join body needs.
    n_part = docs.sparkSession.sparkContext.defaultParallelism * 2
    a = index.repartition(n_part, "gh", "occ", "band").select(
        F.col("doc_id").alias("doc_a"),
        F.col("len").alias("len_a"),
        "gh",
        "occ",
        "band",
    )
    b = index.select(
        F.col("doc_id").alias("doc_b"),
        F.col("len").alias("len_b"),
        "gh",
        "occ",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    cand = (
        a.join(b, ["gh", "occ", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .select("doc_a", "doc_b")
    )

    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    # Same shared-derivation persist as editdist_join_pairs (r18,
    # guide §2.4/§5): ``d`` feeds the short-doc enumeration and both
    # verify text joins — three per-query evaluations of the realvocab
    # resurface transform without it.
    d = tracked_persist(
        _spread_corpus(
            docs.select(
                "doc_id", "text", F.length("text").cast("bigint").alias("len")
            )
        )
    )
    short_cut = (q - 1) + q * max_dist
    s = d.filter(F.col("len") <= short_cut)
    sp = (
        s.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_a"))
        .join(
            s.select(
                F.col("doc_id").alias("doc_b"), F.col("len").alias("len_b")
            ),
            F.col("doc_a") < F.col("doc_b"),
        )
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .select("doc_a", "doc_b")
    )
    # DP-verify spread, as in editdist_join_pairs (r18).
    cands = cand.union(sp).distinct().repartition(n_part)

    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "edit_distance",
            F.levenshtein("text_a", "text_b", max_dist).cast("int"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
    )


SETSIM_MIN_PCT = 80


def setsim_prefix_join_pairs(
    docs: DataFrame, min_pct: int = SETSIM_MIN_PCT
) -> DataFrame:
    """ALL doc pairs with exact shingle-set Jaccard ≥ ``min_pct``% via
    PPJoin-style PREFIX FILTERING (Chaudhuri et al. ICDE'06 / Xiao et
    al. WWW'08) — the lossless candidate-pruning path for
    threshold-similarity joins, and the third member of the exact-
    overlap family next to the df-capped inverted index
    (:func:`ngram_jaccard_pairs`) and MinHash-LSH (probabilistic).

    Why it scales: if J(A,B) ≥ t, the pair MUST share at least one
    element among the first ``|X| - ⌈t·|X|⌉ + 1`` elements of each set
    under ANY fixed global element order. Ordering rare-first (by
    document frequency) makes those prefixes the most selective
    possible, so the candidate join touches only rare elements —
    corpus-furniture shingles never generate pairs, with NO df cap and
    NO recall loss. The filter is exact, not probabilistic: the oracle
    for this row is the NAIVE all-pairs inverted-index join, so the
    driver differential literally proves losslessness on this corpus.

    Plan shape (one logical pass per concern, no UDFs):
    - df per element: window COUNT under one sh_h shuffle;
    - per-doc size n and rare-first position: two windows over ONE
      doc_id exchange (count on the unordered spec, row_number on the
      (df, sh_h)-ordered spec — sh_h ties portably, both engines would
      agree, though the oracle never needs the order);
    - prefix length ``n - ⌈min_pct·n/100⌉ + 1`` in pure integer math
      ((min_pct·n + 99) div 100 — no floats anywhere);
    - candidates: prefix⋈prefix on sh_h with the lossless length prune
      100·min(nA,nB) ≥ min_pct·max(nA,nB), then distinct;
    - verify: exact intersection count via a candidate-bounded join
      against the full sets — cost O(|candidates|·set size), never
      all-pairs.

    Scores are integer percent (floor) for bit-exact cross-engine
    compare. Reference analogue: none (the reference has no similarity
    machinery); this extends SURVEY §2.10's dedup family."""
    from kafka_topic_dumper_spark.functions.portable_hash import h60_spark_sql

    # Input spread (r18, guide §2.5): same rationale as _ngram_overlap
    # — the explode+md5 pass re-runs per query over a single-split
    # bench-scale scan; measured 1.72 → 1.51 s on the full row.
    sh = shingled(_spread_corpus(docs)).select(
        "doc_id", F.expr(h60_spark_sql("shingle")).alias("sh_h")
    )
    sh_df = sh.withColumn("df", F.count("*").over(Window.partitionBy("sh_h")))
    wd = Window.partitionBy("doc_id")
    ranked = (
        sh_df.withColumn("n", F.count("*").over(wd))
        .withColumn("pos", F.row_number().over(wd.orderBy("df", "sh_h")))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.expr(f"n - (({min_pct} * n + 99) div 100) + 1")
    ).select("doc_id", "sh_h", "n")

    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "sh_h", F.col("n").alias("n_a")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "sh_h", F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "sh_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            100 * F.least("n_a", "n_b") >= min_pct * F.greatest("n_a", "n_b")
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )

    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh_h")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh_h")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh_h"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.filter(
            100 * F.col("n_common")
            >= min_pct * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            .cast("long")
            .alias("union_size"),
            F.expr(
                "CAST((100 * n_common) div (n_a + n_b - n_common) AS INT)"
            ).alias("jaccard_pct"),
        )
    )


def incremental_dedup(docs: DataFrame, batch_mod: int = INCR_BATCH_MOD) -> DataFrame:
    """Continuous-ingestion dedup: flag a NEW batch of documents
    against the already-ingested corpus without ever shuffling the
    corpus. The batch here is the deterministic ``doc_id % batch_mod
    == 0`` slice standing in for today's crawl; the corpus is the rest,
    standing in for the persisted fingerprint index.

    Plan shape for 100 TB: the batch's distinct fingerprints (small by
    assumption — one ingest interval) BROADCAST into a left-semi probe
    of the corpus index, which therefore streams map-side; the matched
    fingerprint set that comes back is at most batch-sized, so it
    broadcasts into the final flag join. The only shuffle anywhere is
    the batch-internal first-seen window — over the batch, not the
    corpus. Output per batch doc: was it already in the corpus, and is
    it a duplicate within its own batch."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    batch = docs.filter(F.col("doc_id") % batch_mod == 0).select(
        "doc_id", F.md5(norm).alias("fp")
    )
    corpus_fp = docs.filter(F.col("doc_id") % batch_mod != 0).select(
        F.md5(norm).alias("fp")
    )
    known = (
        corpus_fp.join(F.broadcast(batch.select("fp").distinct()), "fp", "left_semi")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    w = Window.partitionBy("fp")
    return (
        batch.withColumn("first_id", F.min("doc_id").over(w))
        .join(known.hint("broadcast"), "fp", "left")
        .select(
            "doc_id",
            F.coalesce("known", F.lit(0)).cast("int").alias("is_known_in_corpus"),
            (F.col("doc_id") != F.col("first_id")).cast("int").alias("is_dup_in_batch"),
        )
    )


# --- MinHash + LSH ---------------------------------------------------------


def minhash_signatures(docs: DataFrame, k: int = 32, portable: bool = True) -> DataFrame:
    """(doc_id, sig: array<bigint>[k]) MinHash signatures.

    Shingles hash via the engine-portable md5-prefix H32 (JVM-side,
    codegen'd; see functions/portable_hash.py) reduced to a 31-bit
    domain, so the k universal-hash permutations
    ``(a*h + b) mod (2^61-1)`` never overflow int64 under ANSI
    semantics. All k permutations min-aggregate in one groupBy — cost
    O(rows·k) with map-side partial mins, one shuffle keyed by doc_id.
    ``portable=False`` switches to xxhash64 (~10× faster hash) when
    DuckDB-oracle parity is not needed.
    """
    hash_col = (
        F.expr(h32_spark_sql("shingle")) % F.lit(HASH_DOMAIN31)
        if portable
        else F.abs(F.xxhash64("shingle")) % F.lit(HASH_DOMAIN31)
    )
    sh = shingled(docs).withColumn("h", hash_col)
    mins = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE61)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def minhash_band_keys(
    sig: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_key): the signature split into ``bands``
    keys — one explode (×bands), no join. The band key is
    md5(concat_ws(',', band-slice)) — fixed-width, engine-portable."""
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[i]
                        for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for bi in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_candidates(
    sig: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Banded bucket-join: docs sharing any band land in the same
    bucket — a self-join keyed by (band, band_key), never all-pairs.
    NOTE the output is still quadratic IN EACH BUCKET; for the
    cluster-assignment consumer that only needs connectivity, use
    :func:`minhash_cluster_dedup`'s star-edge form instead.

    NO persist on the banded index, deliberately (r18 A/B): every
    registered consumer materializes the candidate set exactly once
    (verify_pairs_exact_jaccard persists ``pairs``; the graph rows
    persist their edge relations), and within that one materialization
    ReuseExchange already serves both self-join sides from a single
    signature-chain execution — a persist here measured a ~3% LOSS on
    the full dedup_minhash_lsh row (2.18 → 2.25 s probe protocol)."""
    banded = minhash_band_keys(sig, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verify_pairs_exact_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for an explicit (doc_a, doc_b) pair list ONLY:
    shingle sets are built just for docs appearing in a pair (semi-join
    prunes the rest) and intersected per pair — cost scales with the
    candidate count, not with the corpus's shingle co-occurrence.

    ``pairs`` is referenced three times below (two id projections + the
    final join) and ``sets`` twice (a-side and b-side); both are
    persisted so Spark materializes each subtree once instead of
    re-deriving it per reference — at scale these are the small
    candidate-sized intermediates, exactly what you checkpoint."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    pairs = tracked_persist(pairs)
    docs_in_pairs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b")))
        .distinct()
    )
    sets = tracked_persist(
        shingled(docs.join(docs_in_pairs, "doc_id", "left_semi"))
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
                4,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(docs: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact-Jaccard
    verification of the candidates only. This is the 100 TB path: no
    stage ever materializes the all-pairs (or all-co-shingled-pairs)
    space."""
    cand = minhash_lsh_candidates(minhash_signatures(docs, k), bands, k // bands)
    return verify_pairs_exact_jaccard(docs, cand)


def minhash_star_edges(docs: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """(src, dst) star edges per LSH bucket: every bucket member links
    to the bucket's MIN doc_id instead of to every other member. The
    transitive closure of bucket co-membership is IDENTICAL to the
    all-pairs bucket join's (a,b share a bucket ⇒ a–min–b is a path),
    but edge count is ≤ rows×bands — LINEAR in the corpus — where the
    pair form is quadratic per bucket (the r5 scale probe measured
    132 M pairs / 18 GB peak heap at R=100 from exactly this blowup).

    groupBy-min + equi-join back rather than a min-over-window: the
    partial min combines map-side, and a degenerate hot bucket (e.g.
    empty-text docs all hashing together) hits AQE's skew-join
    splitting instead of a single window-sort task.

    NO persist on the banded index here, deliberately (r18 A/B):
    the bucket-min aggregate and the join-back both shuffle by
    (band, band_key) over the identical subtree, so ReuseExchange
    already materializes the signature chain once — adding a persist
    measured 1.79 → 2.08 s (pure materialization overhead). Contrast
    :func:`minhash_lsh_candidates`, where the self-join's reuse does
    NOT fire and the persist wins."""
    banded = minhash_band_keys(minhash_signatures(docs, k), bands, k // bands)
    mins = banded.groupBy("band", "band_key").agg(F.min("doc_id").alias("src"))
    return (
        banded.join(mins, ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("src"))
        .select("src", F.col("doc_id").alias("dst"))
        .distinct()
    )


def minhash_cluster_dedup(docs: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """Quadratic-free MinHash dedup output: (survivor_id, n_members) —
    one row per near-dup CLUSTER, keyed by the canonical survivor (min
    doc_id in the cluster; singletons survive themselves). This is the
    shape a training-data pipeline actually consumes (keep the
    survivors, count the drops), composed as
    star-edges → connected components → survivor rollup so no stage
    materializes a per-pair relation (r5 verdict item 4).

    Semantics note: clusters are the closure of LSH bucket
    CO-MEMBERSHIP (the SlimPajama/RefinedWeb-style dedup criterion) —
    deliberately NOT the exact-Jaccard-verified pair set of
    :func:`minhash_lsh_dedup`, whose verification cost is what the
    quadratic mode pays. Both are registered; pick by budget."""
    from kafka_topic_dumper_spark.operators.graph import connected_components

    edges = minhash_star_edges(docs, k, bands)
    comp = connected_components(edges, "src", "dst")
    assigned = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            F.coalesce("component_id", "doc_id").alias("survivor_id"),
        )
    )
    return assigned.groupBy("survivor_id").agg(F.count("*").alias("n_members"))


# --- SimHash ---------------------------------------------------------------


SIMHASH_BITS = 32  # H32 gives 32 portable bits; xxhash64 path uses 64


def simhash_fingerprints(docs: DataFrame, portable: bool = True) -> DataFrame:
    """SimHash per doc: token → hash, per-bit ±1 votes summed across
    tokens, sign → bit. Two partial-aggregatable groupBys ((doc, bit)
    votes → doc fingerprint); the ×nbits row blowup stays map-local
    until the first combine. Portable path: 32-bit md5-prefix hash
    (engine-portable, see functions/portable_hash.py); ``portable=False``
    uses all 64 xxhash64 bits."""
    nbits = SIMHASH_BITS if portable else 64
    hash_col = F.expr(h32_spark_sql("tok")) if portable else F.xxhash64("tok")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("tok")
    ).withColumn("h", hash_col)
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(nbits - 1))).alias("bit"),
        F.col("h"),
    ).withColumn(
        "vote",
        F.when(F.expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.expr(
            "bit_or(CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), bit)"
            " ELSE CAST(0 AS BIGINT) END)"
        ).alias("simhash")
    )


def banded_hamming_pairs(
    fps: DataFrame,
    fp_col: str,
    nbits: int,
    n_bands: int = 4,
    max_hamming: int = 4,
    persist_index: bool = True,
) -> DataFrame:
    """Near-dup pairs for ANY integer fingerprint column by banded
    hamming join: slice the fingerprint into ``n_bands`` equal bit
    bands, bucket-join on any equal band (pigeonhole: hamming <
    n_bands ⇒ some band equal), verify with bit_count(xor). The
    generic core under simhash text dedup and perceptual-hash
    multimodal dedup — at scale the banded index is the precomputed
    artifact, partitioned by (band, band_key).

    The banded relation feeds BOTH sides of the self-join and Catalyst
    does not reuse the aliased subtrees here, so without a persist the
    whole fingerprint pipeline upstream (e.g. the two chained Arrow
    stages of synth→phash-DCT, or simhash's double groupBy) executes
    twice — the same double-derivation knn_graph's banded index
    already pins against (r18: phash_dct_neardup 1.99 → 1.17 s).
    ``persist_index=False`` opts out for callers whose fingerprint is
    a trivial projection (the md5 phash stub measured +20% WITH the
    persist — materialization costs more than recomputing one md5)."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    band_bits = nbits // n_bands
    mask = (1 << band_bits) - 1
    banded = fps.select(
        "doc_id",
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(fp_col), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "fp",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    if persist_index:
        banded = tracked_persist(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a.fp ^ b.fp) AS INT)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 4, portable: bool = True
) -> DataFrame:
    """Near-dup pairs by SimHash: delegates to the generic
    :func:`banded_hamming_pairs` core (4 equal bit bands, bucket-join
    on any equal band — pigeonhole: hamming ≤ 3 ⇒ some band equal,
    wider hamming caught probabilistically — verify with
    bit_count(xor)). The same core serves perceptual-hash multimodal
    dedup; it previously existed here as a line-for-line inline copy
    (code-review r6)."""
    nbits = SIMHASH_BITS if portable else 64
    return banded_hamming_pairs(
        simhash_fingerprints(docs, portable=portable),
        "simhash",
        nbits,
        4,
        max_hamming,
    )


# --- embedding cosine near-dup ---------------------------------------------

# 4 tables × 8 bits = 256 buckets/table: candidate volume ~n²/128 vs
# all-pairs n²/2, and the per-table bucket count is the knob that grows
# with the corpus (nbits ≈ log2(n/target_bucket_size) at 100 TB).
NEARDUP_LSH_TABLES = 4
NEARDUP_LSH_BITS = 8


def embedding_neardup_lsh(
    emb: DataFrame,
    k: int = 50,
    nbits: int = NEARDUP_LSH_BITS,
    n_tables: int = NEARDUP_LSH_TABLES,
    dim: int = 64,
) -> DataFrame:
    """Top-k near-dup embedding pairs via sign-LSH bucketing — the
    100 TB plan: vectors are bucketed once per hash table (the
    persisted index; at scale written out partitioned by (tbl,
    bucket)), candidate pairs come from a bucket-equijoin (never
    all-pairs), and exact cosine ranks ONLY the candidates. A pair is
    a candidate if it collides in ANY of the ``n_tables`` independent
    tables — multi-table probing recovers the recall a single sign-LSH
    table loses to hyperplane straddling (same finding as
    similarity.cosine_topk_lsh). Deterministic hyperplanes ⇒ the DuckDB
    oracle reproduces the exact pair set."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    from kafka_topic_dumper_spark.operators.similarity import (
        _as_double_vec,
        lsh_banded,
        pair_dot_udf,
    )

    base = _as_double_vec(emb, "vec_id", "v")
    # the banded index feeds both sides of the candidate self-join —
    # persist so the hyperplane dot products run once per vector.
    # Bucketing runs over the RAW embedding column (computed columns
    # hit the Catalyst lambda-inlining trap — see lsh_bucket_expr).
    banded = tracked_persist(lsh_banded(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", dim, nbits, n_tables
    ))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("v_nrm").alias("na")
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("v_nrm").alias("nb")
    )
    pairs = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", pair_dot_udf()(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    )
    return (
        pairs.orderBy(F.col("cos").desc(), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b")
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.98,
    codebook=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings into ``n_centroids`` coarse cells, then within
    each cell drop every vector whose cosine to ANY lower-``vec_id``
    cell-mate is ≥ ``threshold``. Returns the kept ``(vec_id, cell)``
    keep-list — the shape a training pipeline consumes.

    Determinism deviation from the paper (documented): the paper keeps
    the member farthest from the centroid per semantic group; this
    implementation keeps the lowest ``vec_id``, which makes the output
    a pure function of the data (cross-engine oracle-able) and is the
    same canonical-survivor convention every other dedup mode here
    uses.

    Scale shape (the 100 TB argument):

    - cell assignment is ONE map stage (:func:`similarity.ivf_assign`'s
      Arrow kernel, bit-identical to the oracle's argmax) — the
      codebook is metadata-sized and travels inside the UDF;
    - the pairwise stage is an equi-join on ``cell`` — a hash
      shuffle-join keyed on the cell id, NEVER a crossJoin. Its cost is
      O(Σ|cell|²), which is the intrinsic SemDeDup cost; production
      runs keep it bounded by scaling k with the corpus (the paper uses
      k≈11k for LAION) so E[|cell|] stays constant — here k=16 plays
      that role at test SF;
    - cosines are computed by the Arrow pair-dot kernel whose IEEE op
      order matches the DuckDB oracle exactly, so the ``>= threshold``
      comparison is bit-safe cross-engine.

    Pass :func:`similarity.ivf_codebook_trained`'s triple as
    ``codebook`` for the production path (balanced cells ⇒ the
    quadratic term shrinks); the deterministic sample codebook stays
    the oracle row.

    Plan note: the pairwise stage is ONE ``groupBy(cell).applyInPandas``
    — each vector crosses the shuffle exactly once (cell-partitioned),
    and the within-cell Gram matrix computes in-kernel. The earlier
    hi/lo self-join form shuffled TWO full vectors per candidate pair
    (O(Σ|cell|²) × 2 × vector width on the wire) and paid a second
    Arrow stage for the pair dots; this form's shuffle is corpus-linear
    and the quadratic work is pure in-kernel float64 flops. Kernel
    memory is O(|cell|²) doubles — bounded by the same cell-size cap
    that bounds the flops (k scales with the corpus)."""
    from kafka_topic_dumper_spark.operators.similarity import ivf_assign

    # NULL embeddings are excluded up front (mirrored by the oracle's
    # embedding IS NOT NULL): the previous keep-verbatim path emitted
    # (vec_id, cell=NULL) where DuckDB's NULLS-LAST argmax would have
    # assigned cell 0 — a guaranteed differential mismatch on any
    # corpus that actually contains one (code-review r6 finding).
    assigned = ivf_assign(
        emb.filter(F.col("embedding").isNotNull()), n_centroids, codebook=codebook
    )

    def _keep(pdf):
        import numpy as np
        import pandas as _pd

        # null vectors (no assignable cell) are kept verbatim — no
        # cosine is defined for them, matching the oracle where a NULL
        # cos never satisfies >= tau.
        valid = pdf["v"].notna()
        body = pdf[valid].sort_values("vec_id")
        if len(body) <= 1:
            return pdf[["vec_id", "cell"]]
        X = np.stack(body["v"].to_numpy()).astype(np.float64)
        nrm = body["v_nrm"].to_numpy().astype(np.float64)
        n, dim = X.shape
        # Blocked Gram: kernel memory is O(B²), NEVER O(|cell|²) — the
        # R=100 scale probe found a 185k-member cell whose full Gram
        # would be 257 GiB. Time is still intrinsically O(|cell|²)
        # flops (the SemDeDup cost); memory no longer is.
        B = 4096
        dropped = np.zeros(n, dtype=bool)
        for i0 in range(1, n, B):  # row block [i0, i1): candidates
            i1 = min(i0 + B, n)
            for j0 in range(0, i1, B):  # col block [j0, j1): priors
                j1 = min(j0 + B, i1)
                # LEFT-FOLDED accumulation over dims — the exact IEEE
                # op order of the oracle's list_sum chain and of
                # pair_dot_udf, so the >= tau comparison is bit-safe.
                acc = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
                for d in range(dim):
                    acc += X[i0:i1, d, None] * X[None, j0:j1, d]
                cos = acc / np.outer(nrm[i0:i1], nrm[j0:j1])
                hit = cos >= threshold
                # only strictly-lower GLOBAL indices count (j < i)
                gi = np.arange(i0, i1)[:, None]
                gj = np.arange(j0, j1)[None, :]
                dropped[i0:i1] |= (hit & (gj < gi)).any(axis=1)
        kept = body[~dropped][["vec_id", "cell"]]
        return _pd.concat([kept, pdf[~valid][["vec_id", "cell"]]])

    return assigned.groupBy("cell").applyInPandas(_keep, "vec_id long, cell bigint")


def duplicate_spans(
    docs: DataFrame, gram_len: int = 16, min_count: int = 2
) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" operation): find every
    MAXIMAL token span that appears (as an exact ``gram_len``-token
    sequence) at least ``min_count`` times in the corpus — the spans a
    training pipeline cuts out of otherwise-unique documents
    (boilerplate, licenses, templated headers). Output is one row per
    maximal span occurrence: (doc_id, span_start, span_end, n_grams),
    token positions 1-based inclusive.

    The paper builds a suffix array; the distributed-friendly
    equivalent here is the rolling-gram inverted index:

    1. map stage — every ``gram_len``-token window is hashed (md5 of
       the joined window). The gram TEXT never leaves the map task;
       only (doc_id, pos, 16-byte hash) enters the shuffle, so the
       shuffled volume is ~24 B/token regardless of gram_len;
    2. one hash-shuffle counts gram frequency (partial aggregation
       applies — map-side combine collapses within-task repeats);
       grams at ≥ min_count survive via a semi-join back;
    3. ADJACENT duplicated window starts merge into spans with the
       gaps-and-islands window (pos − row_number per doc) — a per-doc
       window, bounded by document length, never global.

    Span semantics, stated precisely: each output row is a maximal run
    of CONSECUTIVE duplicated window starts. Duplicated windows whose
    starts are non-adjacent but whose token ranges overlap (doc shares
    tokens 1–16 with one peer and 3–18 with another, nobody matches
    2–17) stay separate rows with overlapping ranges — consumers
    summing span lengths must union ranges first. The Lee et al.
    suffix-array formulation merges those; the starts-adjacency form
    is what one shuffle buys, and the oracle/tests pin exactly it.

    At 100 TB: two shuffles (gram count, doc re-group), both carrying
    fixed-width rows; the Zipf head (one viral boilerplate gram) is a
    skew unit AQE splits, and min_count semantics are unaffected by
    the split because the count is associative."""
    toks = docs.select(
        "doc_id",
        F.expr(f"filter({_TOKENS}, t -> t != '')").alias("t"),
    ).withColumn("n", F.size("t"))
    grams = (
        toks.where(F.col("n") >= gram_len)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - gram_len + 1)
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            F.col("pos").cast("integer").alias("pos"),
            F.md5(
                F.array_join(F.slice(F.col("t"), F.col("pos"), gram_len), " ")
            ).alias("g"),
        )
    )
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    grams = tracked_persist(grams)
    hot = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("g")
    )
    dup = grams.join(hot, "g", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("k", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "k").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(gram_len - 1)).cast("integer").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "n_grams")


def duplicate_spans_oracle_sql(gram_len: int = 16, min_count: int = 2) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t != '') AS t
            FROM documents
        ), posd AS (
            SELECT doc_id, t,
                   unnest(range(1, len(t) - {gram_len} + 2)) AS pos
            FROM toks WHERE len(t) >= {gram_len}
        ), grams AS (
            SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                   md5(array_to_string(
                       list_slice(t, pos, pos + {gram_len} - 1), ' ')) AS g
            FROM posd
        ), hot AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_count}
        ), dup AS (
            SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM hot)
        ), isl AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS k
            FROM dup
        )
        SELECT doc_id, min(pos) AS span_start,
               CAST(max(pos) + {gram_len} - 1 AS INTEGER) AS span_end,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM isl GROUP BY doc_id, k
    """


def remove_duplicate_spans(
    docs: DataFrame, gram_len: int = 16, min_count: int = 2
) -> DataFrame:
    """The ACTIONABLE half of substring dedup (Lee et al. cut the
    duplicated text out; :func:`duplicate_spans` only reports it):
    re-emit each document with every token covered by a duplicated
    span removed. Output (doc_id, n_tokens_kept, cleaned_text), where
    cleaned_text is the kept tokens in original order, space-joined —
    i.e. in NORMALIZED token space (lowercased, whitespace collapsed),
    the same space every dedup operator here works in.

    Plan shape: spans come from :func:`duplicate_spans` (two compact
    shuffles); coverage is an equi-join on doc_id with a range
    predicate — per-doc span counts are small, so the per-row fan-out
    is bounded — then one doc re-group whose aggregation buffer is the
    document's own token list. Documents with no duplicated spans pass
    through via the left anti-join side untouched."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(f"filter({_TOKENS}, t -> t != '')")).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    spans = duplicate_spans(docs, gram_len, min_count).select(
        "doc_id", "span_start", "span_end"
    )
    covered = (
        toks.join(spans, "doc_id")
        .where(F.col("pos").between(F.col("span_start"), F.col("span_end")))
        .select("doc_id", "pos")
        .distinct()
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def remove_duplicate_spans_oracle_sql(
    gram_len: int = 16, min_count: int = 2
) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t != '') AS t
            FROM documents
        ), tok AS (
            SELECT doc_id, unnest(t) AS tok,
                   unnest(range(1, len(t) + 1)) AS pos
            FROM toks
        ), posd AS (
            SELECT doc_id, t,
                   unnest(range(1, len(t) - {gram_len} + 2)) AS gpos
            FROM toks WHERE len(t) >= {gram_len}
        ), grams AS (
            SELECT doc_id, CAST(gpos AS INTEGER) AS gpos,
                   md5(array_to_string(
                       list_slice(t, gpos, gpos + {gram_len} - 1), ' ')) AS g
            FROM posd
        ), hot AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_count}
        ), dup AS (
            SELECT doc_id, gpos FROM grams WHERE g IN (SELECT g FROM hot)
        ), covered AS (
            SELECT DISTINCT doc_id,
                   unnest(range(gpos, gpos + {gram_len})) AS pos
            FROM dup
        ), kept AS (
            SELECT tok.doc_id, tok.pos, tok.tok
            FROM tok LEFT JOIN covered
              ON covered.doc_id = tok.doc_id AND covered.pos = tok.pos
            WHERE covered.pos IS NULL
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens_kept,
               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY doc_id
    """


# --- registry entries -------------------------------------------------------


SEMDEDUP_ORACLE_THRESHOLD = 0.40


def semdedup_oracle_sql(centroid_cte: str | None = None) -> str:
    """DuckDB oracle for the SemDeDup keep-list (coarse argmax
    assignment with cid tie-break — same CTE chain as
    similarity.ivf_oracle_sql — then lowest-vec_id-survives within each
    cell at cosine >= tau). ``centroid_cte`` supplies the codebook;
    default is the deterministic sample selection."""
    from kafka_topic_dumper_spark.operators.similarity import (
        IVF_CENTROID_CTE,
        ivf_assignment_ctes,
    )

    cte = centroid_cte or IVF_CENTROID_CTE
    return f"""
        WITH {ivf_assignment_ctes(cte, null_filter=True)}, assigned AS (
            SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE rn = 1
        ), dropped AS (
            SELECT DISTINCT hi.vec_id
            FROM assigned hi JOIN assigned lo
              ON hi.cell = lo.cell AND hi.vec_id > lo.vec_id
            WHERE list_sum(list_transform(range(1, 65),
                      i -> hi.v[i] * lo.v[i])) / (hi.nrm * lo.nrm)
                  >= {SEMDEDUP_ORACLE_THRESHOLD}
        )
        SELECT vec_id, cell FROM assigned
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        """


def minhash_banded_cte_sql(k: int = 32, bands: int = 8) -> str:
    """DuckDB CTE prefix ``toks → sh → hashed → sig → banded`` that
    replays :func:`minhash_signatures` + :func:`minhash_band_keys`
    exactly (same md5-derived (a, b) literals, same md5 band keys), so
    any oracle needing LSH bucket membership composes on top of it.
    Shared by the batch pair/cluster/star oracles here and the
    streaming filter oracle in streaming/queries.py."""
    rpb = k // bands
    min_cols = ",\n                   ".join(
        f"min((h * {a} + {b}) % {MERSENNE61}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {bi} AS band, md5(concat_ws(',', {ms})) AS band_key FROM sig".format(
            bi=bi, ms=", ".join(f"m{bi * rpb + j}" for j in range(rpb))
        )
        for bi in range(bands)
    )
    return f"""toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
            FROM toks
        ), hashed AS (
            SELECT doc_id, ({h32_duckdb_sql('shingle')} % {HASH_DOMAIN31}) AS h
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {min_cols}
            FROM hashed GROUP BY doc_id
        ), banded AS (
            {band_selects}
        )"""


def bloom_oracle_sql() -> str:
    """DuckDB replay of the Bloom admission verdicts — shared by the
    batch row and the streaming-drained-bits row (identical by
    construction: bit-set union is associative, commutative and
    idempotent, so batch boundaries cannot change the filter)."""
    from kafka_topic_dumper_spark.functions.portable_hash import bloom_params

    _bloom_fp = h32_duckdb_sql(
        r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"
    )
    _bloom_pos = [
        f"(({a} * x + {b}) % {MERSENNE61}) % {BLOOM_BITS}"
        for a, b in bloom_params(BLOOM_HASHES)
    ]
    _bits_union = "\n                UNION ALL\n                ".join(
        f"SELECT {p} AS bit FROM corpus" for p in _bloom_pos
    )
    _probe_union = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, x, {p} AS bit FROM batch" for p in _bloom_pos
    )

    return f"""
        WITH f AS (
            SELECT doc_id, ({_bloom_fp} % {HASH_DOMAIN31}) AS x
            FROM documents
        ), corpus AS (
            SELECT doc_id, x FROM f WHERE doc_id % {INCR_BATCH_MOD} != 0
        ), batch AS (
            SELECT doc_id, x FROM f WHERE doc_id % {INCR_BATCH_MOD} = 0
        ), bits AS (
            SELECT DISTINCT bit FROM (
                {_bits_union}
            )
        ), known AS (
            SELECT DISTINCT x FROM corpus
        ), probes AS (
            {_probe_union}
        ), maybe AS (
            SELECT doc_id FROM probes JOIN bits USING (bit)
            GROUP BY doc_id, x HAVING count(*) = {BLOOM_HASHES}
        )
        SELECT b.doc_id,
               CAST(CASE WHEN mb.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS INTEGER) AS maybe_known,
               CAST(CASE WHEN k.x IS NOT NULL THEN 1 ELSE 0 END
                    AS INTEGER) AS actually_known,
               CAST(CASE WHEN mb.doc_id IS NOT NULL AND k.x IS NULL
                    THEN 1 ELSE 0 END AS INTEGER) AS false_positive
        FROM batch b
        LEFT JOIN maybe mb ON b.doc_id = mb.doc_id
        LEFT JOIN known k ON b.x = k.x
        """


def register(reg) -> None:
    @reg(
        "dedup_exact",
        """
        SELECT sha256(text) AS text_sha256,
               min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY sha256(text)
        """,
    )
    def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact dedup via content digest (hash-groupBy)."""
        return exact_dedup(load_table(spark, sf_dir, "documents"))

    @reg(
        "dedup_ngram_jaccard",
        f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
            FROM toks
        ), hashed_all AS (
            SELECT doc_id, {h60_duckdb_sql('shingle')} AS sh_h FROM sh
        ), hot AS (
            SELECT sh_h FROM hashed_all GROUP BY sh_h
            HAVING count(*) > {NGRAM_MAX_DF}
        ), hashed AS (
            SELECT * FROM hashed_all
            WHERE sh_h NOT IN (SELECT sh_h FROM hot)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM hashed a JOIN hashed b
              ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM common
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        ORDER BY n_common / (ca.n + cb.n - n_common) DESC, doc_a, doc_b
        LIMIT 20
        """,
    )
    def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 most-similar doc pairs by exact word-3-gram Jaccard
        (inverted-index join, df-capped at {NGRAM_MAX_DF}; no
        crossJoin)."""
        docs = load_table(spark, sf_dir, "documents")
        return (
            ngram_jaccard_pairs(docs)
            .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
            .limit(20)
            .select("doc_a", "doc_b")
        )

    @reg(
        "dedup_ngram_containment",
        f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
            FROM toks
        ), hashed_all AS (
            SELECT doc_id, {h60_duckdb_sql('shingle')} AS sh_h FROM sh
        ), hot AS (
            SELECT sh_h FROM hashed_all GROUP BY sh_h
            HAVING count(*) > {NGRAM_MAX_DF}
        ), hashed AS (
            SELECT * FROM hashed_all
            WHERE sh_h NOT IN (SELECT sh_h FROM hot)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM hashed a JOIN hashed b
              ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), directed AS (
            SELECT doc_a AS src_doc, doc_b AS dst_doc, n_common FROM common
            UNION ALL
            SELECT doc_b, doc_a, n_common FROM common
        )
        SELECT d.src_doc, d.dst_doc,
               CAST((100 * d.n_common) // c.n AS INTEGER) AS containment_pct
        FROM directed d JOIN counts c ON c.doc_id = d.src_doc
        WHERE (100 * d.n_common) // c.n >= {CONTAINMENT_MIN_PCT}
        """,
    )
    def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Directed exact word-3-gram containment ≥ 50%% (round 8) —
        the doc-in-doc / excerpt / contamination-provenance signal:
        integer-percent scores over the SAME single-shuffle inverted
        index as the Jaccard row, asymmetric per direction."""
        return ngram_containment_pairs(load_table(spark, sf_dir, "documents"))

    @reg(
        "dedup_editdist_join",
        f"""
        WITH d AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
            FROM documents
        ), pairs AS MATERIALIZED (
            -- MATERIALIZED: compute the dominant levenshtein exactly
            -- once per length-surviving pair (a plain subquery lets
            -- the optimizer push the filter back through the
            -- projection and re-expand the expression)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.text, b.text) AS INTEGER)
                       AS edit_distance
            FROM d a JOIN d b
              ON a.doc_id < b.doc_id
             AND abs(a.len - b.len) <= {EDITDIST_MAX}
        )
        SELECT doc_a, doc_b, edit_distance FROM pairs
        WHERE edit_distance <= {EDITDIST_MAX}
        """,
    )
    def dedup_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """All pairs at exact edit distance ≤ 30 via q-gram-lemma
        pruning (round 8). The oracle is the naive length-pruned
        all-pairs levenshtein scan, so a hash-match proves the lemma
        filter lossless on this corpus."""
        return editdist_join_pairs(load_table(spark, sf_dir, "documents"))

    # Shared by the in-memory realvocab row AND the stored prefix-index
    # row: identical output contract (all pairs at exact distance ≤ D
    # over the identically-resurfaced text), so one naive length-pruned
    # all-pairs oracle proves BOTH candidate-generation strategies
    # lossless on the diverse corpus.
    _EDITDIST_REALVOCAB_ORACLE = f"""
        WITH d AS (
            {resurface_vocabulary_duckdb()}
        ), dl AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
            FROM d
        ), pairs AS MATERIALIZED (
            -- MATERIALIZED: levenshtein computed once per
            -- length-surviving pair (r12 advisor: the SELECT+WHERE
            -- twin evaluation doubled the oracle's dominant cost)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.text, b.text) AS INTEGER)
                       AS edit_distance
            FROM dl a JOIN dl b
              ON a.doc_id < b.doc_id
             AND abs(a.len - b.len) <= {EDITDIST_MAX}
        )
        SELECT doc_a, doc_b, edit_distance FROM pairs
        WHERE edit_distance <= {EDITDIST_MAX}
        """

    @reg("dedup_editdist_join_realvocab", _EDITDIST_REALVOCAB_ORACLE)
    def dedup_editdist_join_realvocab(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The editdist join on a REALISTIC ~31k-surface-form vocabulary
        (round 12, r11 verdict item 4): each token deterministically
        resurfaced as a function of (token, position) via the portable
        H32, so duplicate structure survives while q-gram diversity
        matches a real crawl. The oracle is the same naive length-pruned
        all-pairs levenshtein scan over the identically-resurfaced text,
        so a hash-match proves the lemma pruning lossless on a DIVERSE
        vocabulary — previously that rested on the hypothesis tests
        alone (tests/test_graph_editdist_property.py)."""
        return editdist_join_pairs(
            resurface_vocabulary(load_table(spark, sf_dir, "documents"))
        )

    # Same output contract + corpus as the realvocab row, so the SAME
    # oracle applies — what this row additionally proves is the ED-Join
    # PREFIX-FILTER index as a build-once MATERIALIZED artifact (r12
    # verdict item 4 / SCALE_PROBE.md round 12: the right ADDITIVE
    # index for corpora known to be diverse, same trade as
    # similarity_topk_lsh_stored vs brute force): 91-rarest-token
    # prefix index built + hive-written once per (process, sf_dir),
    # every call after the first probes the stored copy.
    @reg("dedup_editdist_prefix_stored", _EDITDIST_REALVOCAB_ORACLE)
    def dedup_editdist_prefix_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
        """All pairs at exact edit distance ≤ 30 on the realistic-
        vocabulary corpus via a MATERIALIZED ED-Join prefix index
        (round 13): candidates from the stored 91-rarest-gram-token
        prefixes instead of the full gram multiset join; banded-DP
        verify and short-doc enumeration identical to the in-memory
        row. A hash-match against the naive all-pairs oracle proves
        the prefix-filtering principle lossless on this corpus."""
        from kafka_topic_dumper_spark.functions.caching import materialized
        from kafka_topic_dumper_spark.functions.index_store import (
            write_editdist_prefix_index,
        )

        docs = resurface_vocabulary(load_table(spark, sf_dir, "documents"))

        def _build(path: str) -> None:
            write_editdist_prefix_index(editdist_prefix_index(docs), path)

        path = materialized(
            ("index", "edprefix", sf_dir),
            _build,
            prefix="edprefix_index_",
            leaf="prefix",
        )
        return editdist_pairs_from_prefix_index(
            docs, spark.read.parquet(path)
        )

    @reg(
        "dedup_setsim_prefix_join",
        f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
            FROM toks
        ), hashed AS (
            SELECT doc_id, {h60_duckdb_sql('shingle')} AS sh_h FROM sh
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM hashed a JOIN hashed b
              ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(ca.n + cb.n - n_common AS BIGINT) AS union_size,
               CAST((100 * n_common) // (ca.n + cb.n - n_common) AS INTEGER)
                   AS jaccard_pct
        FROM common
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE 100 * n_common >= {SETSIM_MIN_PCT} * (ca.n + cb.n - n_common)
        """,
    )
    def dedup_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """All pairs at exact shingle-Jaccard ≥ 80% via PPJoin-style
        prefix filtering (round 8). The oracle is the NAIVE all-pairs
        inverted-index join — no prefix filter — so a hash-match here
        is a machine-checked proof that the pruning is lossless on
        this corpus, not just fast."""
        return setsim_prefix_join_pairs(load_table(spark, sf_dir, "documents"))

    @reg("dedup_bloom_admission", bloom_oracle_sql())
    def dedup_bloom_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bloom-filter batch admission (round 8): fixed-m broadcast
        state instead of corpus-cardinality state, false positives
        deterministic and surfaced next to the exact check."""
        return bloom_admission(load_table(spark, sf_dir, "documents"))

    @reg(
        "dedup_canonical_mapping",
        r"""
        WITH f AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        )
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY fp) AS keep_doc_id,
               CAST(doc_id != min(doc_id) OVER (PARTITION BY fp) AS INTEGER)
                   AS is_dup
        FROM f
        """,
    )
    def dedup_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Row-level dedup mapping: doc → canonical survivor + dup
        flag."""
        return canonical_mapping(load_table(spark, sf_dir, "documents"))


    @reg(
        "dedup_incremental",
        rf"""
        WITH f AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        ), batch AS (
            SELECT doc_id, fp FROM f WHERE doc_id % {INCR_BATCH_MOD} = 0
        ), known AS (
            SELECT DISTINCT fp FROM f
            WHERE doc_id % {INCR_BATCH_MOD} != 0
              AND fp IN (SELECT fp FROM batch)
        )
        SELECT b.doc_id,
               CAST(CASE WHEN k.fp IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
                   AS is_known_in_corpus,
               CAST(b.doc_id != min(b.doc_id) OVER (PARTITION BY b.fp)
                    AS INTEGER) AS is_dup_in_batch
        FROM batch b LEFT JOIN known k ON b.fp = k.fp
        """,
    )
    def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """New-batch-vs-corpus dedup flags (broadcast probe of the
        corpus fingerprint index; the corpus never shuffles)."""
        return incremental_dedup(load_table(spark, sf_dir, "documents"))

    # MinHash oracle: the exact same pipeline in DuckDB SQL, built from
    # the same md5-derived (a, b) literals (functions/portable_hash.py).
    # Shared CTE prefix: tokens → shingles → portable hash → signature
    # → banded keys. Reused by the pair, cluster, star-edge, and
    # streaming-filter oracles (the latter in streaming/queries.py).
    minhash_banded_cte = minhash_banded_cte_sql()

    minhash_pairs_sql = f"""
        WITH {minhash_banded_cte}, cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b,
               round(coalesce(cm.n_common, 0)
                     / (na.n + nb.n - coalesce(cm.n_common, 0)), 4) AS jaccard
        FROM cand c
        LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
        JOIN counts na ON na.doc_id = c.doc_a
        JOIN counts nb ON nb.doc_id = c.doc_b
        """

    @reg("dedup_minhash_lsh", minhash_pairs_sql)
    def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash(32) + LSH(8 bands × 4 rows) candidates, verified with
        exact Jaccard. Portable md5 hashing ⇒ the DuckDB oracle
        reproduces the result SET bit-identically."""
        return minhash_lsh_dedup(load_table(spark, sf_dir, "documents"))

    @reg(
        "dedup_cluster_components",
        f"""
        WITH RECURSIVE pairs AS (
            {minhash_pairs_sql}
        ), strong AS (
            SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM strong
            UNION
            SELECT doc_b, doc_a FROM strong
        ), reach(node, label) AS (
            SELECT s, s FROM edges
            UNION
            SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
        ), comp AS (
            SELECT node, min(label) AS component_id FROM reach GROUP BY node
        )
        SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
        FROM documents d
        LEFT JOIN comp c ON c.node = d.doc_id
        """,
    )
    def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup CLUSTER assignment: MinHash-LSH verified pairs with
        Jaccard ≥ 0.5 become edges; connected components (iterative
        min-label propagation, operators/graph.py) give every document
        a deterministic cluster id (min doc_id in its cluster;
        singletons label themselves). This is the stage between
        pair-finding and canonical-doc selection in a production dedup
        pipeline. The oracle reproduces the closure with a recursive
        CTE over the identical portable-hash pair set."""
        from kafka_topic_dumper_spark.operators.graph import connected_components

        docs = load_table(spark, sf_dir, "documents")
        strong = (
            minhash_lsh_dedup(docs)
            .filter(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b")
        )
        comp = connected_components(strong, "doc_a", "doc_b")
        return (
            docs.select("doc_id")
            .join(comp, docs["doc_id"] == comp["node"], "left")
            .select(
                "doc_id",
                F.coalesce("component_id", "doc_id").alias("component_id"),
            )
        )

    from kafka_topic_dumper_spark.operators.text import (
        quality_classifier_oracle_ctes,
    )

    @reg(
        "dedup_quality_survivor",
        f"""
        WITH RECURSIVE pairs AS (
            {minhash_pairs_sql}
        ), strong AS (
            SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM strong
            UNION
            SELECT doc_b, doc_a FROM strong
        ), reach(node, label) AS (
            SELECT s, s FROM edges
            UNION
            SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
        ), comp AS (
            SELECT node, min(label) AS component_id FROM reach GROUP BY node
        ), {quality_classifier_oracle_ctes()}, grp AS (
            SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS grp
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        ), j AS (
            SELECT g.doc_id, g.grp, qc_agg.logit_centisum
            FROM grp g JOIN qc_agg ON qc_agg.doc_id = g.doc_id
        )
        SELECT doc_id,
               first_value(doc_id) OVER (PARTITION BY grp
                   ORDER BY logit_centisum DESC, doc_id) AS keep_doc_id,
               CAST(doc_id != first_value(doc_id) OVER (PARTITION BY grp
                   ORDER BY logit_centisum DESC, doc_id) AS INTEGER) AS is_dup
        FROM j
        """,
    )
    def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup dedup keeping each MinHash cluster's
        HIGHEST-QUALITY copy (integer classifier logit, doc_id
        tie-break) — survivor selection as a policy choice."""
        return quality_survivor_mapping(load_table(spark, sf_dir, "documents"))

    @reg(
        "dedup_minhash_clusters",
        f"""
        WITH RECURSIVE {minhash_banded_cte}, mins AS (
            SELECT band, band_key, min(doc_id) AS s
            FROM banded GROUP BY band, band_key
        ), edges AS (
            SELECT DISTINCT m.s, b.doc_id AS d
            FROM banded b
            JOIN mins m ON m.band = b.band AND m.band_key = b.band_key
            WHERE b.doc_id != m.s
        ), sym AS (
            SELECT s, d FROM edges UNION SELECT d, s FROM edges
        ), reach(node, label) AS (
            SELECT s, s FROM sym
            UNION
            SELECT e.d, r.label FROM reach r JOIN sym e ON e.s = r.node
        ), comp AS (
            SELECT node, min(label) AS component_id FROM reach GROUP BY node
        ), assigned AS (
            SELECT coalesce(c.component_id, d.doc_id) AS survivor_id
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        )
        SELECT survivor_id, count(*) AS n_members
        FROM assigned GROUP BY survivor_id
        """,
    )
    def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Quadratic-free MinHash dedup (r5 verdict item 4): LSH bucket
        co-membership closed into clusters via star edges (each bucket
        member → bucket-min), never materializing a per-pair relation;
        output is one (survivor_id, n_members) row per cluster — the
        keep-list a training pipeline consumes. The oracle reproduces
        the identical star-edge closure with a recursive CTE over the
        same portable-hash banding."""
        return minhash_cluster_dedup(load_table(spark, sf_dir, "documents"))

    simhash_bands = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash >> {i * 8}) & 255 AS band_key FROM fp"
        for i in range(4)
    )

    @reg(
        "dedup_simhash",
        f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT doc_id, {h32_duckdb_sql('tok')} AS h FROM toks
        ), bits AS (
            SELECT doc_id, h, unnest(range(0, {SIMHASH_BITS})) AS bit FROM hashed
        ), votes AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM bits GROUP BY doc_id, bit
        ), fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        ), banded AS (
            {simhash_bands}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) <= 4
        """,
    )
    def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SimHash-32 (portable md5 bits) banded near-dup pairs
        (hamming ≤ 4); oracle reproduces the identical pair set."""
        return simhash_near_pairs(load_table(spark, sf_dir, "documents"))

    from kafka_topic_dumper_spark.operators.similarity import banded_union_sql

    neardup_banded = banded_union_sql(
        "n", "vec_id", 64, NEARDUP_LSH_BITS, NEARDUP_LSH_TABLES
    )

    @reg(
        "dedup_embedding_cosine",
        f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), banded AS (
            {neardup_banded}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM banded a JOIN banded b
              ON a.tbl = b.tbl AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ), pairs AS (
            SELECT c.vec_a, c.vec_b,
                   list_sum(list_transform(range(1, 65),
                       i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm) AS cos
            FROM cand c
            JOIN n na ON na.vec_id = c.vec_a
            JOIN n nb ON nb.vec_id = c.vec_b
        )
        SELECT vec_a, vec_b FROM pairs ORDER BY cos DESC, vec_a, vec_b LIMIT 50
        """,
    )
    def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-50 near-dup embedding pairs by cosine over sign-LSH
        bucket candidates (4 tables × 8 bits; deterministic hyperplanes
        ⇒ exact-match oracle). The bucketed plan — never all-pairs."""
        return embedding_neardup_lsh(load_table(spark, sf_dir, "embeddings"))

    @reg("dedup_duplicate_spans", duplicate_spans_oracle_sql(16, 2))
    def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Maximal duplicated 16-token spans across the corpus
        (Lee-et-al substring dedup via rolling-gram inverted index +
        gaps-and-islands merge)."""
        return duplicate_spans(load_table(spark, sf_dir, "documents"), 16, 2)

    @reg("dedup_remove_spans", remove_duplicate_spans_oracle_sql(16, 2))
    def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The corpus with duplicated 16-token spans CUT OUT — the
        transform Lee et al. apply; cleaned_text is in normalized token
        space, fully-duplicated docs drop entirely."""
        return remove_duplicate_spans(load_table(spark, sf_dir, "documents"), 16, 2)

    # SemDeDup keep-list: the oracle reproduces the identical coarse
    # assignment (argmax cosine over the 16 deterministic centroids,
    # cid tie-break — same CTE chain as similarity._IVF_ORACLE) and the
    # same lowest-id-survives rule. Threshold comparison is bit-safe:
    # both engines compute cosine with the identical left-folded IEEE
    # op sequence (see similarity.pair_dot_udf).
    @reg("dedup_semantic", semdedup_oracle_sql())
    def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SemDeDup keep-list over 16 deterministic coarse cells —
        kept (vec_id, cell) rows; per-cell equi-join, never all-pairs.
        τ=0.40 here (not the production ~0.95+): the synthetic
        embeddings have no planted near-dups (max pairwise cosine
        ≈0.51 at sf0.01), so a production τ would never exercise the
        drop path — 0.40 drops 11/500, proving both branches."""
        return semantic_dedup(load_table(spark, sf_dir, "embeddings"), threshold=0.40)

    # Literal-injected oracle (r6 verdict item 2): the trained codebook
    # is replayed outside Spark (functions/trained_oracles.py) and its
    # centroids injected as literals, so the assignment + per-cell
    # survivor stages are hash-checked exactly like the untrained row.
    @reg(
        "dedup_semantic_trained",
        lambda sf_dir: semdedup_oracle_sql(
            trained_oracles.ivf_trained_centroid_cte(sf_dir)
        ),
    )
    def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SemDeDup keep-list under the k-means-trained codebook
        (similarity.ivf_codebook_trained) riding the same assignment
        kernel and per-cell join plan."""
        from kafka_topic_dumper_spark.operators.similarity import (
            ivf_codebook_trained,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        return semantic_dedup(
            emb, threshold=0.40, codebook=ivf_codebook_trained(emb)
        )
