"""Oracle-gated registry rows for the STREAMING operators.

The streaming twins (streaming/windows.py, streaming/stateful.py) are
pytest-proven against their batch equivalents, but until round 6 none
had a driver correctness row (r5 verdict item 5). This module batchifies
one real streaming query — file source → watermarked event-time agg →
memory sink, Trigger.AvailableNow — into the ``queries()`` contract so
the driver differentially verifies streaming SEMANTICS, not just the
batch plans. The pattern is the same bounded-drain shape the reference's
dump loop uses (kafka_client.py:168-176): drain everything available,
then stop.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions.caching import materialized, scratch_dir
from kafka_topic_dumper_spark.sources.tables import load_table

_SINK_SEQ = itertools.count()

# Every document gets a deterministic event time inside ONE wall-clock
# hour; the marker row sits hours later so the watermark (2 h default)
# passes every document window, while the marker's own window never
# finalizes and is dropped by append mode — the same advancing-marker
# scheme tests/test_streaming_windows.py established.
_DOC_TS = "timestampadd(MINUTE, CAST(doc_id % 60 AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')"
_MARKER_ID = 10**9


def _lm_stream_input(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", F.expr(_DOC_TS).alias("ts")
        )
        marker = spark.sql(
            f"SELECT CAST({_MARKER_ID} AS BIGINT) AS doc_id,"
            " 'watermark advance marker' AS text,"
            " TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts"
        )
        docs.union(marker).coalesce(1).write.parquet(path)

    return materialized(
        ("stream", "lm_docs", sf_dir), build, prefix="stream_input_", leaf="docs"
    )


def _events_stream_input(spark: SparkSession, sf_dir: str) -> str:
    """Events re-materialized as ONE parquet file: a single source file
    ⇒ a single data micro-batch ⇒ no event can arrive behind an
    already-advanced watermark mid-replay, so append-mode output is a
    pure function of the data (the final no-data batch emits every
    window whose end the terminal watermark passed)."""

    def build(path: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "ts"
        ).coalesce(1).write.parquet(path)

    return materialized(
        ("stream", "events", sf_dir), build, prefix="stream_input_", leaf="events"
    )


# last sink temp-view per logical query, so each re-invocation (bench
# N_RUNS, driver rounds, differential tests) drops its predecessor's
# full-result memory table instead of accumulating them on the driver
# heap for the session's lifetime — the same per-call leak class that
# caching.materialized closes for /tmp (ADVICE r5).
_LAST_SINK: dict = {}


def _drain(stream_df: DataFrame, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout WITHOUT
    # raising — reading the sink then would silently return a partial
    # result while the query races on. Fail loudly instead.
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"streaming drain of {name!r} exceeded 300 s")
    base = name.rsplit("_", 1)[0]
    prev = _LAST_SINK.get(base)
    # prev == name happens when a FIXED sink name is drained twice in
    # one session (twin tests) — dropping it would delete the view
    # that was just written
    if prev is not None and prev != name:
        stream_df.sparkSession.catalog.dropTempView(prev)
    _LAST_SINK[base] = name


def write_ranged_replay_files(
    df: DataFrame, path: str, n_files: int, range_cols: tuple
) -> None:
    """Write ``df`` as ``n_files`` range-partitioned parquet files with
    ascending modification times, so a ``maxFilesPerTrigger=1`` file
    source (which replays by (mtime, path)) delivers them in key
    order. The mtime bump is load-bearing — ordered-replay semantics
    (watermark monotonicity, the streaming filter's smaller-id-first
    precedence) depend on it — so this is the ONE copy of the trick,
    shared by the stream-input cache below and ``cli prep --near-dup
    minhash`` (code-review r7)."""
    import glob
    import os

    df.repartitionByRange(n_files, *range_cols).write.parquet(path)
    parts = sorted(glob.glob(f"{path}/part-*.parquet"))
    base = int(os.path.getmtime(parts[-1])) + 10
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))


def _split_stream_input(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cols: tuple,
    n_files: int = 4,
    range_cols: tuple | None = None,
) -> str:
    """Materialize ``table`` as ``n_files`` parquet files for
    ``maxFilesPerTrigger=1`` replay — n_files separate micro-batches,
    so every streaming row exercises the state-merge path rather than
    a single-batch degenerate run.

    ``range_cols=None``: random ``repartition`` split (order-free
    state, e.g. set-union dedup). ``range_cols=(...)``: a
    ``repartitionByRange`` split with ascending file mtimes, so the
    file source (which replays by (mtime, path)) delivers the batches
    in key order — required when the operator's semantics depend on
    arrival order (watermark-monotone sessionizers, the smaller-id-
    first precedence of the streaming near-dup filter).
    ``repartitionByRange`` keeps the split distributed (one range
    shuffle — the same primitive a 100 TB backfill replay would use);
    partition k lands in the k-th part file."""
    # cols MUST be part of the key: two callers over the same table
    # with different projections would otherwise collide and the later
    # one would read files missing its columns (found by the r8 suite
    # when the 3-col HLL split landed on the cached 2-col docs split —
    # schema-on-read silently yielded NULL source for every row)
    key = ("stream_split", table, sf_dir, n_files, range_cols, cols)

    def build(path: str) -> None:
        df = load_table(spark, sf_dir, table).select(*cols)
        if range_cols:
            write_ranged_replay_files(df, path, n_files, range_cols)
        else:
            df.repartition(n_files).write.parquet(path)

    return materialized(key, build, prefix="stream_input_", leaf=f"{table}_split")


def _docs_split_stream_input(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    return _split_stream_input(spark, sf_dir, "documents", ("doc_id", "text"), n_files)


def _docs_source_split_stream_input(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    return _split_stream_input(
        spark, sf_dir, "documents", ("doc_id", "text", "source"), n_files
    )


def _docs_range_split_stream_input(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    return _split_stream_input(
        spark, sf_dir, "documents", ("doc_id", "text"), n_files,
        range_cols=("doc_id",),
    )


def _events_split_stream_input(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    return _split_stream_input(
        spark, sf_dir, "events",
        ("event_id", "user_id", "event_type", "ts"), n_files,
    )


def _events_range_split_stream_input(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    return _split_stream_input(
        spark, sf_dir, "events",
        ("event_id", "user_id", "event_type", "value", "ts"), n_files,
        range_cols=("ts", "event_id"),
    )


def run_minhash_stream_filter(
    spark: SparkSession,
    input_path: str,
    min_batches: int = 3,
    timeout: int = 300,
) -> DataFrame:
    """Drive the streaming MinHash-LSH ingest filter over the parquet
    files at ``input_path`` (replayed one file per micro-batch, which
    must be in ascending doc_id order — see
    :func:`_docs_range_split_stream_input`) and return the admitted
    ``doc_id`` rows. Shared by the registry row and ``cli prep
    --near-dup minhash`` so both run the same implementation."""
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
    )

    root = scratch_dir("stream_minhash_")
    index_path = f"{root}/band_index"
    kept_path = f"{root}/kept"
    state = {"initialized": False, "n_batches": 0}

    def filter_batch(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        banded = (
            minhash_band_keys(minhash_signatures(batch_df))
            .withColumn(
                "pbucket",
                F.pmod(F.xxhash64("band_key"), F.lit(16)).cast("int"),
            )
            .persist()
        )
        try:
            partners = banded.select("band", "band_key", "doc_id", "pbucket")
            if state["initialized"]:
                touched = [
                    r.pbucket
                    for r in banded.select("pbucket").distinct().collect()
                ]
                prior = sp.read.parquet(index_path).where(
                    F.col("pbucket").isin(touched)
                )
                partners = partners.unionByName(
                    prior.select(*partners.columns)
                )
            dropped = (
                banded.alias("n")
                .join(
                    partners.alias("p"),
                    (F.col("n.band") == F.col("p.band"))
                    & (F.col("n.band_key") == F.col("p.band_key"))
                    & (F.col("p.doc_id") < F.col("n.doc_id")),
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            kept = batch_df.join(dropped, "doc_id", "left_anti").select(
                "doc_id"
            )
            # kept must materialize BEFORE the index append extends
            # the partner set (same ordering discipline as the
            # MERGE row's persist-before-overwrite).
            kept.write.mode("append").parquet(kept_path)
            banded.write.mode("append").partitionBy("pbucket").parquet(
                index_path
            )
            state["initialized"] = True
            state["n_batches"] += 1
        finally:
            banded.unpersist()

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    q = (
        stream.writeStream.foreachBatch(filter_batch)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(f"streaming minhash replay exceeded {timeout} s")
    assert state["n_batches"] >= min_batches, (
        "replay must exercise cross-batch state"
    )
    return spark.read.parquet(kept_path)



def register(reg) -> None:
    from kafka_topic_dumper_spark.operators.text import (
        bigram_lm_model,
        bigram_lm_oracle_ctes,
        cms_bigram_occurrences,
        cms_counters,
        cms_oracle_sql,
        cms_topk,
        hll_estimate_from_registers,
        hll_oracle_sql,
        hll_projection,
        hll_registers,
    )
    from kafka_topic_dumper_spark.streaming.windows import (
        hourly_rollup_stream,
        score_stream_against_model,
    )

    # The streaming twin of events_hourly_rollup, driver-stamped: the
    # REAL events table replayed as a stream. Append mode only emits
    # windows the terminal watermark (max ts − 2 h) has passed, so the
    # oracle applies the identical cutoff to the batch rollup; the
    # newest ≈3 wall-hours of windows are the held-back streaming state
    # — asserted non-empty difference in test_streaming_windows.py.
    # window_start is cast back to NTZ (wall time round-trips through
    # the internal LTZ for any whole-hour session offset; fractional
    # offsets like +05:45 would shift hour ALIGNMENT — a documented
    # presentation caveat, not a data one).
    @reg(
        "streaming_hourly_rollup",
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        agg AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, event_type, n_events, sum_value
        FROM agg, mx
        WHERE window_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 2 HOUR
        """,
    )
    def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tumbling 1-hour windowed aggregate over the events table
        replayed through a real file stream (watermark 2 h, append
        mode, Trigger.AvailableNow) — proves watermark-gated window
        finalization against the batch rollup under the same cutoff."""
        stream = spark.readStream.schema(
            "event_id long, event_type string, value double, ts timestamp_ntz"
        ).parquet(_events_stream_input(spark, sf_dir))
        name = f"streaming_hourly_rollup_sink_{next(_SINK_SEQ)}"
        _drain(hourly_rollup_stream(stream), name)
        return spark.table(name).withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        )

    # The stateful anomaly twin: per-user ring-buffer state via
    # applyInPandasWithState over ts-range micro-batches. The batch
    # operator's SQL is the oracle VERBATIM — the integer z-test over
    # the same preceding-window contents makes the online replay
    # row-identical to the batch computation.
    from kafka_topic_dumper_spark.operators.analytics import (
        rolling_anomaly_oracle_sql,
    )

    @reg("streaming_rolling_anomaly", rolling_anomaly_oracle_sql())
    def streaming_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user rolling z-score anomaly flags as a CUSTOM STATEFUL
        streaming operator (applyInPandasWithState): state is each
        user's last ≤20 quantized values, replayed over 4 time-range
        micro-batches — cross-batch ring-buffer carry proven by the
        exact hash-match against the batch operator's oracle."""
        from kafka_topic_dumper_spark.streaming.stateful import (
            rolling_anomaly_stream,
        )

        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string,"
                " value double, ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(_events_range_split_stream_input(spark, sf_dir))
        )
        name = f"streaming_rolling_anomaly_sink_{next(_SINK_SEQ)}"
        _drain(rolling_anomaly_stream(stream), name)
        return spark.table(name)

    # Hopping-window twin: each event lands in exactly TWO overlapping
    # windows (1 h length / 30 min slide), which the oracle replays by
    # unnesting the two window starts per event — time_bucket(30 min)
    # and that minus 30 min — then applying the identical terminal-
    # watermark cutoff on window END. Same NTZ round-trip note as
    # streaming_hourly_rollup.
    @reg(
        "streaming_hopping_rollup",
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        assigned AS (
            SELECT time_bucket(INTERVAL 30 MINUTES, ts) - k.off AS window_start,
                   event_type, value
            FROM events,
                 (SELECT unnest([INTERVAL 0 MINUTES, INTERVAL 30 MINUTES])
                         AS off) k
        ),
        agg AS (
            SELECT window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM assigned GROUP BY 1, 2
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type, n_events, sum_value
        FROM agg, mx
        WHERE window_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 2 HOUR
        """,
    )
    def streaming_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hopping (sliding) 1-hour/30-minute windowed aggregate over
        the events table replayed through a real file stream (watermark
        2 h, append mode, Trigger.AvailableNow) — the OVERLAPPING-
        window semantics a tumbling rollup cannot express: every event
        is counted in exactly two windows, finalized exactly once each
        when the watermark passes the window end."""
        from kafka_topic_dumper_spark.streaming.windows import (
            hopping_rollup_stream,
        )

        stream = spark.readStream.schema(
            "event_id long, event_type string, value double, ts timestamp_ntz"
        ).parquet(_events_stream_input(spark, sf_dir))
        name = f"streaming_hopping_rollup_sink_{next(_SINK_SEQ)}"
        _drain(hopping_rollup_stream(stream), name)
        return spark.table(name).withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))

    # The model is trained on the same corpus the stream replays, so the
    # streaming scorer's left-join add-one fallbacks reduce to the batch
    # inner-join formula — the batch LM CTE chain IS the oracle. The
    # window_start column is deliberately dropped: hour-window alignment
    # under a non-UTC harness session is a presentation detail, while
    # (doc_id, n_bigrams, bits_per_bigram) is session-independent.
    @reg(
        "streaming_lm_quality",
        f"""
        WITH {bigram_lm_oracle_ctes("documents")}
        SELECT doc_id, n_bigrams, bits_per_bigram FROM lmq
        """,
    )
    def streaming_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The documents table replayed through a REAL streaming query:
        file stream → bigram scoring against the historical-corpus LM →
        event-time window agg with watermark → memory sink, drained
        with Trigger.AvailableNow. Proves watermark finalization,
        append-mode exactly-once emission, and the stream-static model
        join against the batch oracle."""
        pair_counts, ctx_counts, vocab = bigram_lm_model(
            load_table(spark, sf_dir, "documents")
        )
        v = int(vocab.collect()[0]["v"])
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp_ntz"
        ).parquet(_lm_stream_input(spark, sf_dir))
        name = f"streaming_lm_quality_sink_{next(_SINK_SEQ)}"
        _drain(score_stream_against_model(stream, pair_counts, ctx_counts, v), name)
        return spark.table(name).select("doc_id", "n_bigrams", "bits_per_bigram")

    # Streaming exact dedup: an unbounded global aggregation (no
    # watermark, complete mode) — the streaming-state twin of
    # dedup_exact. The final complete-mode table is a pure function of
    # the data regardless of arrival order (min/count are
    # order-insensitive), which is what makes a multi-batch replay
    # oracle-able; maxFilesPerTrigger=1 over a 4-file input forces 4
    # micro-batches so the row proves cross-batch state MERGE, not a
    # single-batch pass.
    @reg(
        "streaming_dedup_exact",
        """
        SELECT md5(text) AS digest,
               min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)
        """,
    )
    def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact content-digest dedup as a stateful streaming
        aggregation: documents replayed one file per micro-batch,
        digest-keyed state merged across batches, complete-mode memory
        sink drained with Trigger.AvailableNow."""
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_split_stream_input(spark, sf_dir))
        )
        agg = stream.groupBy(F.md5("text").alias("digest")).agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        name = f"streaming_dedup_exact_sink_{next(_SINK_SEQ)}"
        _drain(agg, name, output_mode="complete")
        return spark.table(name)

    # Streaming count-min sketch: the sketch counters ARE streaming
    # state — an unbounded complete-mode groupBy on (row, bucket)
    # whose state is bounded by depth×width (192 rows) FOREVER, the
    # canonical "sketch as stream summary" shape. maxFilesPerTrigger=1
    # over a 4-file split forces 4 micro-batch merges; counter
    # increments are associative+commutative, so the drained sketch is
    # a pure function of the data regardless of batch boundaries. The
    # drained counters then feed the SAME top-k estimator as the batch
    # row, and the oracle is the SAME batch CMS SQL — a hash-match
    # proves the incrementally-built sketch byte-identical to the
    # batch-built one.
    @reg("streaming_cms_heavy_hitters", cms_oracle_sql())
    def streaming_cms_heavy_hitters(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Bigram heavy hitters from a CMS built incrementally over a
        4-micro-batch document stream (round 8): stream → stateless
        bigram/bucket projection → complete-mode counter aggregation →
        drain → batch top-k estimate from the streamed sketch."""
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_split_stream_input(spark, sf_dir))
        )
        counters = cms_counters(cms_bigram_occurrences(stream))
        name = f"streaming_cms_sink_{next(_SINK_SEQ)}"
        _drain(counters, name, output_mode="complete")
        occ = cms_bigram_occurrences(load_table(spark, sf_dir, "documents"))
        return cms_topk(occ, spark.table(name))

    # Streaming HyperLogLog: like the CMS row, the REGISTER TABLE is
    # the streaming state — groups×64 rows forever, merged by MAX
    # (associative, commutative, idempotent: even reprocessing a batch
    # could not corrupt it). Drained registers feed the same estimator
    # as the batch row; same batch oracle ⇒ the hash-match proves the
    # incrementally-built registers byte-identical.
    @reg("streaming_hll_cardinality", hll_oracle_sql())
    def streaming_hll_cardinality(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-source distinct-shingle HLL built incrementally over a
        4-micro-batch document stream (round 8): stream → stateless
        (source, bucket, rho) projection → complete-mode register MAX →
        drain → batch estimate from the streamed registers."""
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_source_split_stream_input(spark, sf_dir))
        )
        regs = hll_registers(hll_projection(stream))
        name = f"streaming_hll_sink_{next(_SINK_SEQ)}"
        _drain(regs, name, output_mode="complete")
        exact = (
            hll_projection(load_table(spark, sf_dir, "documents"))
            .groupBy("source")
            .agg(F.countDistinct("x").alias("n_exact"))
        )
        return hll_estimate_from_registers(spark.table(name), exact)

    # Streaming Bloom filter — the third streaming sketch beside CMS
    # and HLL, completing the trio: the SET-BIT TABLE is the streaming
    # state (complete-mode distinct over bit positions, ≤ m rows
    # forever; set-union is associative, commutative and idempotent).
    # The corpus side streams in; the drained bits then admit the
    # batch side through the same verdict assembly as the batch row,
    # against the same oracle.
    from kafka_topic_dumper_spark.operators.dedup import (
        INCR_BATCH_MOD,
        bloom_admit,
        bloom_fingerprints,
        bloom_oracle_sql,
        bloom_positions,
    )

    @reg("streaming_bloom_admission", bloom_oracle_sql())
    def streaming_bloom_admission(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Bloom admission whose corpus bit-set is built incrementally
        over a 4-micro-batch stream (round 8): stream → stateless
        fingerprint/bit projection → complete-mode distinct-bit state →
        drain → batch-side admission verdicts from the streamed
        filter."""
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_split_stream_input(spark, sf_dir))
        )
        corpus_bits = (
            bloom_fingerprints(stream)
            .filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
            .select(F.explode(bloom_positions()).alias("bit"))
            .groupBy("bit")
            .agg(F.count("*").alias("n"))
        )
        name = f"streaming_bloom_sink_{next(_SINK_SEQ)}"
        _drain(corpus_bits, name, output_mode="complete")
        f = bloom_fingerprints(load_table(spark, sf_dir, "documents"))
        batch = f.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        known = (
            f.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
            .select("x")
            .distinct()
        )
        return bloom_admit(batch, spark.table(name).select("bit"), known)

    # Streaming session windows: gap-based sessionization through the
    # REAL session_window operator with merge-on-overlap state. The
    # oracle is the batch gaps-and-islands with the operator's exact
    # semantics: half-open [ts, ts+gap) windows merge only on strict
    # overlap (a new session starts when the gap is >= 30 min, not >),
    # session_end = last event + gap, and append mode emits exactly the
    # sessions whose end the terminal watermark (max ts − 2 h) passed.
    # Timestamps round-trip LTZ→NTZ like streaming_hourly_rollup (gap
    # arithmetic is offset-invariant, so the wall times survive any
    # whole-offset session timezone).
    # Streaming incremental MERGE (foreachBatch): the continuous
    # warehouse-maintenance pattern — each micro-batch merges into a
    # keyed parquet state table. The state is hash-bucket-partitioned
    # (user_id % 16) and each batch rewrites ONLY the buckets its keys
    # touch via dynamic partition overwrite — per-batch cost scales
    # with the batch's key spread, NOT the table size (a full-table
    # read-modify-write per batch would be the scale defect). The
    # merged relation is persisted+counted BEFORE the overwrite so the
    # write job reads cached partitions, not the files it is replacing;
    # the remaining non-atomicity window (a reader during the partition
    # swap) is what Delta/Iceberg's ACID log closes — out of scope
    # here, noted honestly. The final table is a pure function of the
    # data regardless of batch boundaries because the merge rule (keep
    # the (ts, event_id)-max row per user) is associative and
    # commutative; maxFilesPerTrigger=1 over a 4-file input forces
    # 4 sequential merges so the row proves INCREMENTAL maintenance,
    # not a single-batch rewrite.
    @reg(
        "streaming_merge_latest_state",
        """
        SELECT user_id, ts, event_id, event_type
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
        """,
    )
    def streaming_merge_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Latest-event-per-user state maintained INCREMENTALLY: an
        events stream replayed one file per micro-batch, each batch
        foreachBatch-merged into a parquet state table by the argmax
        rule — the streaming twin of flagship_latest_event_per_user
        through the MERGE maintenance path instead of a stateful agg."""
        from pyspark.sql import Window as W

        target = f"{scratch_dir('merge_state_')}/state"
        state = {"initialized": False, "n_batches": 0}

        def merge_batch(batch_df, batch_id: int):
            sp = batch_df.sparkSession
            b = batch_df.select(
                "user_id", "ts", "event_id", "event_type"
            ).withColumn("pbucket", (F.col("user_id") % 16).cast("int"))
            cur = b
            if state["initialized"]:
                touched = [
                    r.pbucket for r in b.select("pbucket").distinct().collect()
                ]
                old = sp.read.parquet(target).where(
                    F.col("pbucket").isin(touched)
                )
                cur = b.unionByName(old.select(*b.columns))
            w = W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            merged = (
                cur.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
                .persist()
            )
            merged.count()  # materialize BEFORE overwriting source files
            # dynamic partition overwrite is session-scoped: restore
            # the caller's value so later mode('overwrite') partitioned
            # writes elsewhere keep their expected full-truncate
            # semantics (leaving it 'dynamic' would silently preserve
            # stale partitions in any later partitioned overwrite).
            prev_mode = sp.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            try:
                sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
                merged.write.mode("overwrite").partitionBy("pbucket").parquet(target)
            finally:
                sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
                merged.unpersist()
            state["initialized"] = True
            state["n_batches"] += 1

        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(_events_split_stream_input(spark, sf_dir))
        )
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming merge replay exceeded 300 s")
        assert state["n_batches"] >= 2, "replay must exercise >1 merge"
        return spark.read.parquet(target).select(
            "user_id", "ts", "event_id", "event_type"
        )

    @reg(
        "streaming_user_sessions",
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        lagged AS (
            SELECT user_id, ts, value, event_id,
                   lag(epoch(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_s
            FROM events
        ), tagged AS (
            SELECT user_id, ts, value,
                   CAST(sum(CASE WHEN prev_s IS NULL
                                 OR epoch(ts) - prev_s >= 1800
                            THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS sid
            FROM lagged
        ), sess AS (
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM tagged GROUP BY user_id, sid
        )
        SELECT session_start, session_end, user_id, n_events, sum_value
        FROM sess, mx
        WHERE session_end <= m - INTERVAL 2 HOUR
        """,
    )
    def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user 30-minute-gap session windows over the events table
        replayed through a real file stream (watermark 2 h, append
        mode, Trigger.AvailableNow) — proves session-merge state and
        watermark-gated session finalization against the batch
        gaps-and-islands oracle."""
        from kafka_topic_dumper_spark.streaming.windows import (
            user_sessions_stream,
        )

        stream = spark.readStream.schema(
            "event_id long, user_id long, value double, ts timestamp_ntz"
        ).parquet(_events_stream_input(spark, sf_dir))
        name = f"streaming_user_sessions_sink_{next(_SINK_SEQ)}"
        _drain(user_sessions_stream(stream), name)
        return spark.table(name).select(
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )

    # The CUSTOM stateful operator (applyInPandasWithState), registry-
    # stamped end-to-end (r6 verdict item 7): conversion-terminated
    # sessionization — semantics the stock session_window cannot
    # express — replayed through four TIME-RANGE micro-batches with an
    # event-time flush timer. The oracle is the batch gaps-and-islands
    # chain (same CTE text as sessionize_events) plus the flush
    # horizon, expressed in the operator's EXACT timer arithmetic: the
    # timer ts is ms-floored (stateful.py last_us // 1000 + gap·1000),
    # the watermark is the ms-floored max event time (delay 0), and
    # GroupState timeouts fire only when the watermark STRICTLY
    # exceeds the timer — hence epoch_ms(m) > epoch_ms(session_end) +
    # gap_ms, not an inclusive µs-exact interval compare (which would
    # diverge on a session ending exactly gap before max ts) — the
    # predicate tests/test_stateful_streaming.py proved against the
    # operator.
    @reg(
        "streaming_sessionize_state",
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        tagged AS (
            SELECT user_id, ts, event_id, value, event_type,
                   CAST(sum(CASE WHEN prev_secs IS NULL
                                 OR floor(epoch(ts)) - prev_secs > 1800
                                 OR prev_type = 'purchase'
                            THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM (SELECT *,
                         lag(floor(epoch(ts))) OVER wo AS prev_secs,
                         lag(event_type) OVER wo AS prev_type
                  FROM events
                  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id))
        ), sess AS (
            SELECT user_id, session_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS INTEGER) AS converted
            FROM tagged
            GROUP BY user_id, session_id
        ), horizon AS (
            SELECT s.*, max(session_id) OVER (PARTITION BY user_id) AS max_sid,
                   mx.m
            FROM sess s, mx
        )
        SELECT user_id, session_id, session_start, session_end,
               n_events, sum_value, converted
        FROM horizon
        WHERE session_id != max_sid
           OR converted = 1
           OR epoch_ms(m) > epoch_ms(session_end) + 1800000
        """,
    )
    def streaming_sessionize_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Conversion-terminated sessions via the custom
        applyInPandasWithState operator: four time-range micro-batches
        (cross-batch open-session state), event-time timeout flushing
        trailing sessions the watermark passed."""
        from kafka_topic_dumper_spark.streaming.stateful import (
            sessionize_stream,
        )

        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string,"
                " value double, ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(_events_range_split_stream_input(spark, sf_dir))
        )
        name = f"streaming_sessionize_state_sink_{next(_SINK_SEQ)}"
        _drain(sessionize_stream(stream, flush_timeout=True), name)
        return spark.table(name).select(
            "user_id",
            "session_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
            "converted",
        )

    # Stream-stream interval join (round 8): the one Structured
    # Streaming join shape the registry lacked. Click→purchase
    # attribution — every click joins every purchase by the SAME user
    # within the following 30 minutes. Both sides are real file
    # streams over the ts-ranged replay files; each carries a 1-hour
    # watermark and the join condition bounds event time on both
    # sides, which is exactly what lets the engine EVICT buffered
    # click state once the purchase-side watermark passes
    # click_ts + 30 min — bounded state at 100 TB (state ∝ rows inside
    # the watermark horizon, never the stream's history). For an
    # INNER join with a two-sided time bound the engine guarantees no
    # match is missed, so a bounded AvailableNow replay emits exactly
    # the batch interval join — the oracle below.
    @reg(
        "streaming_interval_join",
        """
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id,
               datediff('microsecond', c.ts, p.ts) AS us_to_purchase
        FROM events c JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
        """,
    )
    def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Watermarked stream-stream inner join with a time-range
        condition (click→purchase within 30 min), replayed over four
        ts-range micro-batches so matches span batch boundaries
        through buffered join state. The join itself is the shared
        :func:`streaming.windows.interval_join_stream` operator; this
        row contributes the oracle-gated drive."""
        from kafka_topic_dumper_spark.streaming.windows import (
            interval_join_stream,
        )

        path = _events_range_split_stream_input(spark, sf_dir)
        schema = (
            "event_id long, user_id long, event_type string,"
            " value double, ts timestamp_ntz"
        )

        def side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
            # stream-stream joins require TIMESTAMP (LTZ) event time —
            # NTZ watermarks are rejected ([EVENT_TIME_IS_NOT_ON_
            # TIMESTAMP_TYPE]). Rebase the NTZ wall time onto the
            # instant domain by pure integer arithmetic
            # (timestamp_micros of the µs-since-epoch diff), NOT a
            # cast: a cast routes through the session timezone, and a
            # DST-observing session would bend relative event-time
            # distances across a transition. This mapping is bijective
            # and session-timezone-free, so the join predicate and the
            # µs differences below are bit-identical under any session
            # timezone (the Kiritimati sweep covers it).
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
                .filter(F.col("event_type") == event_type)
                .select(
                    F.col("event_id").alias(id_alias),
                    "user_id",
                    F.expr(
                        "timestamp_micros(timestampdiff(MICROSECOND,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
                    ).alias(ts_alias),
                )
            )

        joined = interval_join_stream(
            side("click", "click_id", "c_ts"),
            side("purchase", "purchase_id", "p_ts"),
            "user_id",
            "c_ts",
            "p_ts",
            max_delay="30 minutes",
            watermark="1 hour",
        )
        out = joined.select(
            "click_id",
            "purchase_id",
            "user_id",
            F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias(
                "us_to_purchase"
            ),
        )
        name = f"streaming_interval_join_sink_{next(_SINK_SEQ)}"
        _drain(out, name)
        return spark.table(name)

    # Streaming near-dup ingest filter (foreachBatch): the online form
    # of MinHash-LSH dedup a training-data ingest actually runs — each
    # micro-batch of documents is admitted only if no LSH bucket
    # co-member with a smaller doc_id exists in the batch or in the
    # accumulated band-key index of every prior batch. The index lives
    # in hash-bucketed parquet (pbucket = xxhash64(band_key) % 16), so
    # a batch's probe reads ONLY the buckets its own band keys hash to
    # (partition-pruned scan, like streaming_merge_latest_state's
    # bucket-pruned rewrite) and the per-batch cost scales with batch
    # size × collision rate, never with corpus size; dedup state lives
    # on storage, not in executor memory (contrast dropDuplicates,
    # whose state store must HOLD every key ever seen). Ordered
    # doc_id-range replay makes "earlier batch" = "smaller doc_id", so
    # the result is a pure function of the data — the oracle is the
    # batch rule: keep a doc iff it is the MIN doc_id in every LSH
    # bucket it occupies (bucket co-membership criterion, the
    # SlimPajama/RefinedWeb-style filter; minhash_cluster_dedup's
    # closure semantics, restricted to direct collisions). This
    # registry twin runs checkpoint-free into a fresh tempdir (each
    # call is a complete bounded replay); a restartable production
    # deployment would add a checkpointLocation and make both appends
    # idempotent under batch retry by writing them into
    # ``ingest_batch=<batch_id>`` overwrite dirs, exactly the scheme
    # sources/ingest.py already implements for the quarantining
    # ingest.
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_banded_cte_sql,
    )

    @reg(
        "streaming_dedup_minhash",
        f"""
        WITH {minhash_banded_cte_sql()}, dropped AS (
            SELECT DISTINCT b1.doc_id
            FROM banded b1 JOIN banded b2
              ON b1.band = b2.band AND b1.band_key = b2.band_key
             AND b2.doc_id < b1.doc_id
        )
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
    )
    def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Admitted doc_ids after the streaming MinHash-LSH ingest
        filter: 4 doc_id-range micro-batches, band-key index persisted
        and bucket-prune-probed across batches
        (:func:`run_minhash_stream_filter`)."""
        return run_minhash_stream_filter(
            spark, _docs_range_split_stream_input(spark, sf_dir)
        )
