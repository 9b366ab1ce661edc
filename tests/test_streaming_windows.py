"""Structured Streaming event-time operators, driven through a real
stream: file source → watermarked agg → memory sink, availableNow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.sources.tables import load_table
from kafka_topic_dumper_spark.streaming.windows import (
    hourly_rollup_stream,
    user_sessions_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_path(spark, tmp_path_factory):
    # re-materialize events with a plain timestamp column so the file
    # stream reads it with a static schema
    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, SF, "events").write.parquet(path)
    return path


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.table(name)


def test_hourly_rollup_stream_matches_batch(spark, events_stream_path):
    batch = load_table(spark, SF, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_path)
    out = _run_stream(spark, hourly_rollup_stream(stream), "rollup_test")
    # append mode + watermark: all windows older than max(ts) - 2h are
    # finalized and emitted; compare those against the batch rollup
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in out.collect()
    }
    assert len(got) > 0
    expected_df = (
        batch.groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    expected = {(r.ws, r.event_type): (r.n, r.s) for r in expected_df.collect()}
    for k, v in got.items():
        assert expected[k] == v  # every emitted window is exactly right


def test_session_windows_stream(spark, events_stream_path):
    batch = load_table(spark, SF, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_path)
    out = _run_stream(spark, user_sessions_stream(stream), "sessions_test")
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_dedup_stream_drops_replayed_duplicates(spark, events_stream_path, tmp_path):
    """An at-least-once source (here: the same file data arriving twice)
    must come out exactly-once after dropDuplicatesWithinWatermark."""
    from kafka_topic_dumper_spark.streaming.windows import dedup_stream

    batch = load_table(spark, SF, "events")
    dup_src = str(tmp_path / "dup_events")
    batch.write.parquet(dup_src)
    batch.write.mode("append").parquet(dup_src)  # replay: every row twice
    assert spark.read.parquet(dup_src).count() == 2 * batch.count()

    stream = spark.readStream.schema(batch.schema).parquet(dup_src)
    out = _run_stream(spark, dedup_stream(stream), "dedup_stream_test")
    assert out.count() == batch.count()
    assert out.select("event_id").distinct().count() == batch.count()


def test_dedup_stream_against_corpus(spark, events_stream_path, tmp_path):
    """Stream rows whose event_id is already in the static corpus index
    are dropped; replayed in-stream duplicates are dropped too; exactly
    the genuinely-new ids survive, once each."""
    from kafka_topic_dumper_spark.streaming.windows import dedup_stream_against_corpus

    batch = load_table(spark, SF, "events")
    # corpus = every third id is "already ingested"
    corpus = batch.filter(F.col("event_id") % 3 == 0).select("event_id")
    dup_src = str(tmp_path / "replayed")
    batch.write.parquet(dup_src)
    batch.write.mode("append").parquet(dup_src)  # at-least-once replay

    stream = spark.readStream.schema(batch.schema).parquet(dup_src)
    out = _run_stream(
        spark,
        dedup_stream_against_corpus(stream, corpus, "event_id"),
        "dedup_corpus_test",
    )
    expected_ids = {
        r.event_id for r in batch.filter(F.col("event_id") % 3 != 0).collect()
    }
    got = [r.event_id for r in out.select("event_id").collect()]
    assert sorted(got) == sorted(expected_ids)  # once each, none historical


def test_interval_join_stream_matches_batch(spark, events_stream_path):
    """Stream-stream interval join (purchase attributed to clicks by
    the same user within the preceding hour) equals the identical batch
    join, pair for pair — the inner-join append-mode contract."""
    from kafka_topic_dumper_spark.streaming.windows import interval_join_stream

    batch = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks_b = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys_b = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    expected = sorted(
        (r.click_id, r.buy_id)
        for r in clicks_b.alias("l")
        .join(
            buys_b.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        )
        .collect()
    )
    assert len(expected) > 0  # the fixture data must actually exercise the join

    raw = spark.readStream.schema(
        load_table(spark, SF, "events").schema
    ).parquet(events_stream_path)
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys_s = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = _run_stream(
        spark,
        interval_join_stream(
            clicks_s, buys_s, "user_id", "click_ts", "buy_ts"
        ).select("click_id", "buy_id"),
        "interval_join_test",
    )
    got = sorted((r.click_id, r.buy_id) for r in out.collect())
    assert got == expected


def test_enrich_stream_matches_batch_join(spark, events_stream_path):
    """Stream-static enrichment: per-microbatch join against a static
    dimension equals the batch left join, row for row."""
    from kafka_topic_dumper_spark.streaming.windows import enrich_stream

    batch = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_path)
    out = _run_stream(
        spark,
        enrich_stream(stream, dim, "user_id", "c_custkey").select(
            "event_id", "user_id", "c_name", "c_mktsegment"
        ),
        "enrich_test",
    )
    got = sorted(tuple(r) for r in out.collect())
    expected = sorted(
        tuple(r)
        for r in batch.join(
            dim, batch.user_id == dim.c_custkey, "left"
        )
        .select("event_id", "user_id", "c_name", "c_mktsegment")
        .collect()
    )
    assert got == expected


def test_streaming_hourly_rollup_row_holds_back_open_windows(spark):
    """The registry's streaming_hourly_rollup row must emit exactly the
    batch rollup RESTRICTED to watermark-passed windows — and the
    restriction must be REAL (the newest windows held back as open
    state), or the row would be indistinguishable from batch."""
    from kafka_topic_dumper_spark.registry import QUERIES

    got = {tuple(r) for r in QUERIES["streaming_hourly_rollup"](spark, SF).collect()}
    batch = load_table(spark, SF, "events")
    full = {
        tuple(r)
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got < full, "streaming output should be a strict subset"
    held = {r[0] for r in full - got}
    newest = max(r[0] for r in full)
    assert all((newest - ws).total_seconds() <= 4 * 3600 for ws in held), (
        f"held-back windows should only be the newest ~3 hours: {sorted(held)}"
    )


def test_enrich_stream_join_is_planner_chosen(spark):
    """enrich_stream must NOT force-broadcast the dimension: a
    user/customer dim is an unbounded relation, and a forced broadcast
    of a grown dim OOMs the driver (r5 verdict item 1; policy at
    operators/analytics.py). The join strategy is the planner's call
    from stats, per micro-batch — so the analyzed plan must carry no
    broadcast hint."""
    from kafka_topic_dumper_spark.streaming.windows import enrich_stream

    ev = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    out = enrich_stream(ev, dim, "user_id", "c_custkey")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed, (
        f"enrich_stream carries a join hint on the dimension side:\n{analyzed}"
    )


def test_score_stream_against_model_matches_batch(spark, tmp_path):
    """Stream docs (seen + novel bigrams) scored against a model
    trained on the historical corpus must equal the identical
    left-join formula computed in batch — including the add-one
    fallbacks for bigrams/contexts the model never saw."""
    from kafka_topic_dumper_spark.operators.text import bigram_lm_model, bigram_rows
    from kafka_topic_dumper_spark.streaming.windows import score_stream_against_model

    hist = load_table(spark, SF, "documents")
    pair_counts, ctx_counts, vocab = bigram_lm_model(hist)
    v = vocab.collect()[0]["v"]

    # live docs: two drawn from the corpus, two fully novel
    corpus_rows = [
        (int(r.doc_id) + 10_000, r.text)
        for r in hist.orderBy("doc_id").limit(2).collect()
    ]
    live = corpus_rows + [
        (20_001, "zzqx wvut zzqx plumf"),  # every bigram novel
        (20_002, "one"),  # single token: no bigrams, absent from output
    ]
    stream_dir = str(tmp_path / "docs_stream")
    rows = [(d, t, "2024-01-01 06:30:00") for d, t in live]
    # watermark-advancing marker: append mode only emits a window once
    # the watermark passes its END, so a later row must exist; its own
    # window stays open and is never emitted
    rows.append((99_999, "watermark advance marker", "2024-01-01 12:00:00"))
    spark.createDataFrame(
        rows, schema="doc_id long, text string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(stream_dir)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        stream_dir
    )
    out = _run_stream(
        spark,
        score_stream_against_model(stream, pair_counts, ctx_counts, int(v)),
        "lm_score_stream",
    )
    got = {r.doc_id: (r.n_bigrams, r.bits_per_bigram) for r in out.collect()}
    assert 99_999 not in got  # the marker's own window never finalized

    batch_docs = spark.createDataFrame(
        [(d, t) for d, t in live], schema="doc_id long, text string"
    )
    expected_df = (
        bigram_rows(batch_docs)
        .join(pair_counts, ["prev", "cur"], "left")
        .join(ctx_counts, ["prev"], "left")
        .withColumn(
            "nlp",
            -F.log2(
                (F.coalesce(F.col("c_pc"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c_p"), F.lit(0)) + F.lit(int(v)))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("nlp"), 4).alias("bits"),
        )
    )
    expected = {r.doc_id: (r.n, r.bits) for r in expected_df.collect()}
    assert got == expected
    assert 20_001 in got and 20_002 not in got
    # novel-everything doc scores the unseen-context fallback exactly:
    # every bigram P = 1/(0 + V) -> bits = log2(V)
    import math

    assert got[20_001][1] == round(math.log2(int(v)), 4)


def test_streaming_dedup_state_merges_across_micro_batches(spark, tmp_path):
    """streaming_dedup_exact's contract: a digest-keyed unbounded agg
    replayed one file per trigger must (a) actually run > 1 micro-batch
    and (b) produce exactly the batch groupBy result — min/count state
    merged across batches, order-insensitive."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_split")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("dedup_state_merge_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    n_data_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_data_batches >= 3, [p["numInputRows"] for p in q.recentProgress]

    got = sorted(
        (r.digest, r.keep_doc_id, r.n_copies)
        for r in spark.table("dedup_state_merge_sink").collect()
    )
    want = sorted(
        (r.digest, r.keep_doc_id, r.n_copies)
        for r in docs.groupBy(F.md5("text").alias("digest"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .collect()
    )
    assert got == want


def test_streaming_user_sessions_holds_back_newest_sessions(spark):
    """streaming_user_sessions' append output must be the batch
    session set MINUS a non-empty newest tail (sessions the terminal
    watermark hasn't passed) — proving emission is watermark-gated
    session finalization, not a batch query in disguise."""
    from kafka_topic_dumper_spark.registry import QUERIES, ORACLES
    import duckdb

    sf = "/root/testdata/sf0.001"
    got = {
        (r.session_start, r.session_end, r.user_id, r.n_events)
        for r in QUERIES["streaming_user_sessions"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    all_rows = {
        (r[0], r[1], r[2], r[3])
        for r in con.sql(
            ORACLES["streaming_user_sessions"].replace(
                "WHERE session_end <= m - INTERVAL 2 HOUR", ""
            )
        ).fetchall()
    }
    assert got < all_rows, "stream output must be a strict subset"
    held = all_rows - got
    assert held, "watermark must hold back the newest sessions"
    # every held-back session is within the watermark horizon of max ts
    max_end = max(e for _, e, _, _ in all_rows)
    import datetime
    for _, end, _, _ in held:
        assert end > max_end - datetime.timedelta(hours=2, minutes=31)


def test_streaming_merge_latest_state_matches_batch_argmax(spark):
    """The foreachBatch-merged state table must equal the batch argmax
    per user (the merge rule is associative+commutative, so batch
    boundaries cannot matter); the callable itself asserts >= 2 merges
    actually ran."""
    from kafka_topic_dumper_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.user_id, r.ts, r.event_id, r.event_type)
        for r in QUERIES["streaming_merge_latest_state"](spark, sf).collect()
    )
    ev = load_table(spark, sf, "events")
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = sorted(
        (r.user_id, r.ts, r.event_id, r.event_type)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    assert got == want


@pytest.mark.parametrize(
    "name", ["streaming_dedup_minhash", "streaming_merge_latest_state"]
)
def test_foreach_batch_rows_reuse_one_work_dir(spark, name):
    """Called three times in one session, a foreachBatch row returns the
    same rows each time from one working directory: every call empties
    the row's directory and writes there again, instead of taking a new
    temp directory that lives until the process exits."""
    import os
    import tempfile
    from urllib.parse import urlparse

    from kafka_topic_dumper_spark.registry import QUERIES

    results, roots = [], set()
    for _ in range(3):
        df = QUERIES[name](spark, SF)
        for f in df.inputFiles():
            rel = os.path.relpath(urlparse(f).path, tempfile.gettempdir())
            roots.add(rel.split(os.sep)[0])
        results.append(sorted(tuple(r) for r in df.collect()))
    assert len(roots) == 1, roots
    assert results[0] and results[0] == results[1] == results[2]


def test_memory_sink_row_keeps_one_view(spark):
    """A memory-sink row drained three times leaves one temp view, named
    after the row, and each returned DataFrame still reads its own
    call's rows."""
    from kafka_topic_dumper_spark.registry import QUERIES

    name = "streaming_dedup_exact"
    results = [QUERIES[name](spark, SF) for _ in range(3)]
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and name in t.name
    ]
    assert views == [name]
    rows = [sorted(tuple(r) for r in df.collect()) for df in results]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_streaming_dedup_minhash_matches_batch_rule(spark):
    """The streaming MinHash ingest filter must admit exactly the docs
    the batch rule keeps (min doc_id in every LSH bucket the doc
    occupies) — batch boundaries cannot matter because the replay is
    doc_id-range-ordered; the callable itself asserts >= 3 micro-batch
    state merges ran."""
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
    )
    from kafka_topic_dumper_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(
        r.doc_id for r in QUERIES["streaming_dedup_minhash"](spark, sf).collect()
    )
    docs = load_table(spark, sf, "documents")
    banded = minhash_band_keys(minhash_signatures(docs))
    dropped = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    want = sorted(
        r.doc_id
        for r in docs.join(dropped, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    )
    n_docs = docs.count()
    assert got == want
    assert len(got) < n_docs, "corpus has planted near-dups; some must drop"


def test_streaming_cms_counters_equal_batch(spark):
    """The CMS built over 4 micro-batches must equal the batch sketch
    counter-for-counter (increments are associative+commutative, so
    batch boundaries cannot change the state)."""
    from kafka_topic_dumper_spark.operators.text import (
        cms_bigram_occurrences,
        cms_counters,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table
    from kafka_topic_dumper_spark.streaming.queries import (
        _drain,
        _replay,
        _split_stream_input,
    )

    sf = "/root/testdata/sf0.001"
    stream = _replay(
        spark, _split_stream_input(spark, sf, "documents", ("doc_id", "text"))
    )
    sink = _drain(
        cms_counters(cms_bigram_occurrences(stream)),
        "cms_counter_twin_sink",
        output_mode="complete",
    )
    got = {(r.r, r.bkt): r.c for r in sink.collect()}
    want = {
        (r.r, r.bkt): r.c
        for r in cms_counters(
            cms_bigram_occurrences(load_table(spark, sf, "documents"))
        ).collect()
    }
    assert got == want and len(got) <= 3 * 64


def test_streaming_hll_registers_equal_batch(spark):
    """HLL registers built over 4 micro-batches must equal the batch
    registers exactly — MAX merge is associative, commutative AND
    idempotent, so batch boundaries (even replays) cannot change the
    state; state is bounded by sources x 64."""
    from kafka_topic_dumper_spark.operators.text import (
        hll_projection,
        hll_registers,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table
    from kafka_topic_dumper_spark.streaming.queries import (
        _drain,
        _replay,
        _split_stream_input,
    )

    sf = "/root/testdata/sf0.001"
    stream = _replay(
        spark,
        _split_stream_input(spark, sf, "documents", ("doc_id", "text", "source")),
    )
    sink = _drain(
        hll_registers(hll_projection(stream)),
        "hll_register_twin_sink",
        output_mode="complete",
    )
    got = {(r.source, r.bucket): r.mreg for r in sink.collect()}
    want = {
        (r.source, r.bucket): r.mreg
        for r in hll_registers(
            hll_projection(load_table(spark, sf, "documents"))
        ).collect()
    }
    assert got == want
    from collections import Counter
    per_source = Counter(s for s, _ in got)
    assert per_source and max(per_source.values()) <= 64


def test_streaming_bloom_bits_equal_batch(spark):
    """The Bloom bit set built over 4 micro-batches must equal the
    batch-built set exactly (set union is associative, commutative,
    idempotent), and stay bounded by m."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.dedup import (
        BLOOM_BITS,
        INCR_BATCH_MOD,
        bloom_fingerprints,
        bloom_positions,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table
    from kafka_topic_dumper_spark.streaming.queries import (
        _drain,
        _replay,
        _split_stream_input,
    )

    sf = "/root/testdata/sf0.001"
    stream = _replay(
        spark, _split_stream_input(spark, sf, "documents", ("doc_id", "text"))
    )
    sink = _drain(
        bloom_fingerprints(stream)
        .filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(F.explode(bloom_positions()).alias("bit"))
        .groupBy("bit")
        .agg(F.count("*").alias("n")),
        "bloom_bits_twin_sink",
        output_mode="complete",
    )
    got = {r.bit for r in sink.collect()}
    want = {
        r.bit
        for r in bloom_fingerprints(load_table(spark, sf, "documents"))
        .filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(F.explode(bloom_positions()).alias("bit"))
        .distinct()
        .collect()
    }
    assert got == want and 0 < len(got) <= BLOOM_BITS


def test_hopping_rollup_overlap_semantics(spark, events_stream_path):
    """Every event lands in exactly TWO 1h/30min hopping windows, so
    each emitted window's count equals the batch count of events in
    [start, start+1h) — recomputed independently — and the window set
    covers both the :00 and :30 alignments."""
    from kafka_topic_dumper_spark.streaming.windows import hopping_rollup_stream

    batch = load_table(spark, SF, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_path)
    out = _run_stream(spark, hopping_rollup_stream(stream), "hop_rollup_test")
    rows = out.collect()
    assert rows
    # independent recomputation: count events per (window, type) interval
    ev = [(r.ts, r.event_type, r.value) for r in batch.collect()]
    import datetime as dt
    for r in rows:
        start = r.window_start.replace(tzinfo=None)
        end = r.window_end.replace(tzinfo=None)
        assert end - start == dt.timedelta(hours=1)
        assert start.minute in (0, 30) and start.second == 0
        n = sum(1 for ts, et, _ in ev if et == r.event_type and start <= ts < end)
        s = round(sum(v for ts, et, v in ev if et == r.event_type and start <= ts < end), 2)
        assert (r.n_events, r.sum_value) == (n, s), (start, r.event_type)
    # both alignments actually occur (it's a hop, not a tumble)
    minutes = {r.window_start.minute for r in rows}
    assert minutes == {0, 30}
