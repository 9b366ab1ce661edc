"""Differential test for the custom stateful streaming operator:
``sessionize_stream`` (applyInPandasWithState) must emit exactly the
batch ``sessionize`` result minus each user's trailing open session."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.operators.analytics import sessionize
from kafka_topic_dumper_spark.sources.tables import load_table
from kafka_topic_dumper_spark.streaming.stateful import sessionize_stream

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stateful") / "events")
    load_table(spark, SF, "events").write.parquet(path)
    return path


def test_sessionize_stream_matches_batch(spark, events_stream_path):
    batch_events = load_table(spark, SF, "events")
    stream = spark.readStream.schema(batch_events.schema).parquet(
        events_stream_path
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.user_id, r.session_id): (
            r.session_start,
            r.session_end,
            r.n_events,
            r.sum_value,
            r.converted,
        )
        for r in spark.table("sessions_stateful").collect()
    }

    full = sessionize(batch_events)
    # expected = all sessions except each user's last one when it did
    # not convert (conversion closes eagerly; gap-closure needs a
    # later event, which the trailing session never gets)
    w = Window.partitionBy("user_id")
    expected_df = full.withColumn(
        "max_sid", F.max("session_id").over(w)
    ).filter((F.col("session_id") != F.col("max_sid")) | (F.col("converted") == 1))
    expected = {
        (r.user_id, r.session_id): (
            r.session_start,
            r.session_end,
            r.n_events,
            r.sum_value,
            r.converted,
        )
        for r in expected_df.collect()
    }

    assert set(got) == set(expected)
    for k, (gs, ge, gn, gv, gc) in got.items():
        es, ee, en, ev, ec = expected[k]
        assert (gs, ge, gn, gc) == (es, ee, en, ec), k
        assert gv == pytest.approx(ev, abs=0.011), k
    assert len(got) > 0


def test_sessionize_stream_timeout_flushes_trailing(spark, events_stream_path):
    """With flush_timeout=True, an event-time timer closes trailing
    open sessions once the watermark (here: max ts, delay 0) passes
    last_event + gap — so emitted sessions = every batch session except
    trailing ones still inside the gap horizon at end of stream."""
    batch_events = load_table(spark, SF, "events")
    stream = spark.readStream.schema(batch_events.schema).parquet(
        events_stream_path
    )
    q = (
        sessionize_stream(stream, flush_timeout=True)
        .writeStream.format("memory")
        .queryName("sessions_flush")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions_flush").collect()
    }

    full = sessionize(batch_events)
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    # the operator's exact timer rule: ms-floored timestamps, timeout
    # fires only when the watermark STRICTLY exceeds last_event + gap
    import datetime as _dt

    _delta = max_ts - _dt.datetime(1970, 1, 1)
    wm_ms = (
        (_delta.days * 86400 + _delta.seconds) * 1000
        + _delta.microseconds // 1000
    )
    w = Window.partitionBy("user_id")
    flushed_or_closed = full.withColumn(
        "max_sid", F.max("session_id").over(w)
    ).filter(
        (F.col("session_id") != F.col("max_sid"))
        | (F.col("converted") == 1)
        | (
            F.lit(int(wm_ms))
            > F.floor(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', session_end)"
                )
                / 1000
            )
            + 1_800_000
        )
    )
    expected = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in flushed_or_closed.collect()
    }
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == expected[k], k
    # the flush must have emitted strictly more than the no-timeout run
    assert len(got) >= full.count() - batch_events.select("user_id").distinct().count()


def test_sessionize_stream_session_ids_survive_micro_batches(spark, tmp_path):
    """Multi-batch regression (code-review r6): when a session closes
    in batch 1 (purchase) and the user reappears in batch 2, the
    session counter must CONTINUE (1, 2, ...) — the removed-state
    implementation restarted at 1, emitting duplicate
    (user_id, session_id) keys that the single-batch tests never saw.
    File mtimes force the replay order batch1 -> batch2."""
    import os
    import time

    src = str(tmp_path / "ev")
    os.makedirs(src)
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp_ntz"
    batch1 = spark.createDataFrame(
        [
            (1, 7, "view", 1.0, "2024-01-01 10:00:00"),
            (2, 7, "purchase", 2.0, "2024-01-01 10:05:00"),
        ],
        "event_id long, user_id long, event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    batch2 = spark.createDataFrame(
        [
            (3, 7, "view", 3.0, "2024-01-01 12:00:00"),
            (4, 7, "purchase", 4.0, "2024-01-01 12:10:00"),
        ],
        "event_id long, user_id long, event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    batch1.coalesce(1).write.parquet(src + "/b1")
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    batch2.coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_multibatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_id, r.n_events, r.converted)
        for r in spark.table("sessions_multibatch").collect()
    )
    # two purchase-closed sessions, distinct consecutive ids
    assert got == [(7, 1, 2, 1), (7, 2, 2, 1)], got


def test_sessionize_flush_horizon_boundary_is_strict(spark, tmp_path):
    """A trailing session ending EXACTLY gap seconds before max ts
    must NOT flush (GroupState timeouts fire only when the watermark
    strictly exceeds the ms-floored timer), while one ending 1 ms
    earlier must — the boundary the oracle's epoch_ms strict-> form
    encodes (code-review r7)."""
    schema = (
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp_ntz"
    )

    def run(rows, name):
        src = str(tmp_path / name)
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string,"
            " value double, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).coalesce(
            1
        ).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            sessionize_stream(stream, flush_timeout=True)
            .writeStream.format("memory")
            .queryName(f"sessions_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {
            (r.user_id, r.session_id)
            for r in spark.table(f"sessions_{name}").collect()
        }

    # equality: user 1's session ends exactly 1800 s before max ts
    got_eq = run(
        [
            (1, 1, "view", 1.0, "2024-01-01 00:00:00"),
            (2, 2, "view", 1.0, "2024-01-01 00:30:00"),
        ],
        "boundary_eq",
    )
    assert got_eq == set(), got_eq
    # 1 ms past the horizon: user 1 flushes, user 2 (trailing) doesn't
    got_gt = run(
        [
            (1, 1, "view", 1.0, "2024-01-01 00:00:00"),
            (2, 2, "view", 1.0, "2024-01-01 00:30:00.001"),
        ],
        "boundary_gt",
    )
    assert got_gt == {(1, 1)}, got_gt


def test_rolling_anomaly_stream_ring_buffer_crosses_batches(spark, tmp_path):
    """One user, 12 flat values then a spike, split so the spike's
    window STRADDLES two micro-batches: the flag must use values
    carried in state from batch 1. Recomputed against the batch
    operator row for row."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import rolling_anomaly
    from kafka_topic_dumper_spark.streaming.stateful import (
        rolling_anomaly_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0] * 12 + [500.0, 10.0]
    rows = [
        (i + 1, 9, "view", v, t0 + dt.timedelta(minutes=i))
        for i, v in enumerate(vals)
    ]
    schema = (
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp_ntz"
    )
    batch_df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "anom_split")
    # two time-ordered files → two micro-batches; the split lands
    # mid-window (events 1-8 in file 1, 9-14 in file 2)
    import time as _time

    spark.createDataFrame(rows[:8], schema).coalesce(1).write.parquet(src)
    _time.sleep(1.1)  # file-source replays by (mtime, path)
    spark.createDataFrame(rows[8:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        rolling_anomaly_stream(stream)
        .writeStream.format("memory")
        .queryName("anom_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # genuinely multi-batch
    got = sorted(
        tuple(r) for r in spark.table("anom_stream_test").collect()
    )
    expect = sorted(tuple(r) for r in rolling_anomaly(batch_df).collect())
    assert got == expect
    flags = {r[0]: r[4] for r in got}
    assert flags[13] is True and flags[14] is False  # the spike, then calm
