"""Reload pipeline: dump files → transformer → producer sink.

Reference entry points 2 and 3 (SURVEY §3.2-3.3,
kafka_client.py:406-424):

- cold path: list the dump's files, download each, re-produce every
  row through the pluggable transformer, then write a state record;
- hot path (idempotent replay): if the latest state record matches
  (topic, dump_id, transformer_id), skip ALL data movement.

Spark-first shape: ``spark.read.parquet(dump_dir)`` (no download step —
tasks read the store directly) → ``apply_transformer`` → Kafka sink,
bracketed by the state manifest exactly like the reference: the
state's offsets are snapshotted BEFORE producing (kafka_client.py:378)
and the record is written only AFTER the produce succeeds
(kafka_client.py:404). The default Identity transformer plans as a
projection, so the default replay (batch or stream) is scan → project
→ sink and forks no Python worker; other plug-ins run as an
Arrow-batched flat-map (see ``transform.apply_transformer``).

Ordering note (SURVEY §7 risk 2): the reference replays strictly
file-ordered through one producer. A distributed produce cannot keep a
total order; ``ordered=True`` recovers it by sorting on the source
file name (the reference's offset-encoded names, kafka_client.py:242-243)
and producing from a single task — correct, deliberately serial, for
parity-critical replays only.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.session import hadoop_fs
from kafka_topic_dumper_spark.streaming import state as state_mod
from kafka_topic_dumper_spark.streaming.dump import dump_dir, is_committed
from kafka_topic_dumper_spark.transform import apply_transformer

log = logging.getLogger(__name__)


def find_latest_dump_id(spark: SparkSession, output_root: str) -> str:
    """A1 catalog discovery: latest dump = max committed dump_id
    (lexicographic = chronological, kafka_client.py:259-278). Only
    directories that :func:`.dump.is_committed` accepts count, so a
    failed dump never becomes "latest". Uses the Hadoop FileSystem
    API through the JVM so the same code lists file://, hdfs:// and
    s3a:// — a driver-side metadata call, never a data scan."""
    fs, path = hadoop_fs(spark, output_root)
    if not fs.exists(path):
        raise FileNotFoundError(f"dump root {output_root!r} does not exist")
    dump_ids = [
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(path)
        if st.isDirectory()
        and st.getPath().getName().startswith("dump_id=")
        and is_committed(fs, st.getPath())
    ]
    if not dump_ids:
        raise FileNotFoundError(f"no committed dumps under {output_root!r}")
    # reference parity: plain lexicographic max (kafka_client.py:275).
    # That invariant assumes timestamp-shaped ids; a custom --prefix id
    # sorts ABOVE every digit-leading timestamp and shadows newer dumps
    # forever, so warn loudly when the namespace is mixed.
    if any(d[:1].isdigit() for d in dump_ids) and any(
        not d[:1].isdigit() for d in dump_ids
    ):
        log.warning(
            "dump namespace mixes timestamped and prefixed ids %s — "
            "lexicographic max() will prefer alphabetic prefixes over "
            "NEWER timestamped dumps; pass an explicit dump id",
            sorted(dump_ids),
        )
    return max(dump_ids)


def read_dump(spark: SparkSession, output_root: str, dump_id: str) -> DataFrame:
    """Read one dump's records (key, value) plus the source file name
    (for ordered replay)."""
    df = spark.read.parquet(dump_dir(output_root, dump_id))
    # _seq captures scan order within a file (monotonic per read
    # partition; dump files are far below maxPartitionBytes so a file
    # is never split) — together (_src_file, _seq) reconstructs the
    # reference's exact replay order.
    return df.withColumn("_src_file", F.input_file_name()).withColumn(
        "_seq", F.monotonically_increasing_id()
    )


def reload_stream(
    spark: SparkSession,
    output_root: str,
    dump_id: str,
    transformer,
    checkpoint_dir: str,
    sink_path: str,
    available_now: bool = True,
):
    """Streaming reload: dump files → transformer → file sink, with a
    checkpoint. Unlike the batch path (and the reference, which is
    at-least-once, kafka_client.py:395-400), a crashed or re-run replay
    resumes from the checkpoint and never re-produces rows already
    sunk — exactly-once replay. The transformer is applied exactly as
    in the batch path; in production the sink is Kafka
    (writeStream.format('kafka')), here a file sink for the
    broker-less environment. Returns the started StreamingQuery.
    ``available_now=False`` runs continuously, as in
    :func:`.dump.dump_stream`; the source reads the dump's file-sink log
    when it has one, so it sees only committed dump files.
    """
    records = spark.readStream.schema("key binary, value binary").parquet(
        dump_dir(output_root, dump_id)
    )
    transformed = apply_transformer(records, transformer)
    writer = (
        transformed.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def reload_dump(
    spark: SparkSession,
    output_root: str,
    dump_id: str,
    transformer,
    topic_name: str,
    current_end_offsets: Callable[[], dict[int, int]],
    sink,
    ordered: bool = False,
    sink_id: str = "",
) -> dict:
    """Run the reload. ``sink`` is a callable ``(DataFrame) -> None``
    that produces the transformed (key, value) rows — Kafka in
    production (sources.kafka.write_kafka), a Parquet/collect sink in
    tests. ``current_end_offsets`` is a zero-argument callable that
    snapshots the topic's end offsets. Returns a summary dict (action
    taken + state record).

    Hot path first: when the latest state record matches, only the
    summary is returned — nothing is read or produced, the offsets
    callable is never called, and the manifest read is driver-side
    metadata work that starts no Spark job (the reference's hot reload
    is likewise a metadata-only query, kafka_client.py:412-416). The
    caller seeks its consumers to ``state['offsets']`` (the reference
    resets group offsets, kafka_client.py:360-370; Spark consumers use
    the offsets manifest instead, SURVEY §2.6 B3).

    Cold path: snapshot the end offsets (once), replay through the
    sink, then write the state record. A crash between the sink and
    the state write leaves the manifest unchanged, so the next reload
    is a cold one again and re-delivers every row: at-least-once, as
    in the reference (kafka_client.py:395-404).
    """
    state_root = os.path.join(output_root, "_state")
    transformer_id = transformer.get_id()

    latest = state_mod.read_latest_state(spark, state_root)
    if state_mod.state_matches(
        latest, topic_name, dump_id, transformer_id, sink_id
    ):
        return {"action": "hot_reload_skip", "state": latest}

    # Snapshot end offsets BEFORE producing (kafka_client.py:378):
    # a subsequent hot reload must seek past what this replay writes.
    new_state = state_mod.gen_state(
        dump_id, topic_name, current_end_offsets(), transformer_id,
        sink_id=sink_id,
    )
    # dump_date is unix SECONDS (reference parity, kafka_client.py:
    # 300-319), so two reloads of the same dump inside one second
    # would tie on the manifest's (dump_date, dump_id) argmax and
    # leave "latest" to unstable file-read order — a later replay to
    # the SAME sink could then miss its hot-skip and double-deliver.
    # The record superseding the current latest must sort strictly
    # after it: last write wins, deterministically.
    if latest is not None and new_state["dump_date"] <= latest["dump_date"]:
        new_state["dump_date"] = latest["dump_date"] + 1

    records = read_dump(spark, output_root, dump_id)
    if ordered:
        # single task + in-task sort = total replay order (O1 parity,
        # kafka_client.py:291); deliberately serial — parity mode only.
        records = records.coalesce(1).sortWithinPartitions("_src_file", "_seq")
    transformed = apply_transformer(records, transformer)
    sink(transformed)

    state_mod.save_state(spark, state_root, new_state)
    return {"action": "reloaded", "state": new_state}
