"""Dump pipeline: record stream → chunked gzip Parquet files.

Reference entry point 1 (SURVEY §3.1, kafka_client.py:207-257):
seek to "last N messages" per partition, drain in fixed-size batches,
write each batch as a gzip Parquet file, upload to S3.

Spark-first shape:

- the tail-N seek is a *plan* (plans/offsets.py) that parameterizes the
  Kafka source's startingOffsets — no consumer-group mutation;
- the drain loop collapses into micro-batch execution
  (``trigger(availableNow=True)``) or one bounded batch read;
- fixed-size chunking B1 becomes ``maxRecordsPerFile`` — per-task and
  parallel instead of a serial driver loop;
- the S3 upload disappears: tasks write straight to the destination
  URI (s3a:// in production, file:// here); ``dry_run`` redirects to a
  local path like the reference's flag (main.py:51-54);
- exactly-once (an upgrade over the reference's at-least-once, SURVEY
  §2.9) comes from the streaming checkpoint + file-sink manifest.

Layout: ``<root>/dump_id=<id>/*.parquet`` — Spark partition discovery
makes every dump queryable as one table, and partition pruning on
dump_id replaces the reference's prefix listing (kafka_client.py:280-298).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.plans.offsets import DumpPlan
from kafka_topic_dumper_spark.session import hadoop_fs

# reference parity: the dumper always writes gzip (kafka_client.py:181)
COMPRESSION = "gzip"

# What a finished write leaves in its dump_id=<id>/ directory: the
# batch committer's _SUCCESS marker, or a streaming file sink's log. A
# dump whose job failed leaves a directory with neither.
COMMIT_MARKERS = ("_SUCCESS", "_spark_metadata")


def make_dump_id(prefix: str | None = None, now: datetime | None = None) -> str:
    """Dump id: explicit prefix or UTC %Y%m%d%H%M%S (main.py:106-110) —
    lexicographic order = time order, so max() finds the latest."""
    if prefix:
        return prefix
    now = now or datetime.now(timezone.utc)
    return f"{now:%Y%m%d%H%M%S}"


def dump_dir(output_root: str, dump_id: str) -> str:
    return os.path.join(output_root, f"dump_id={dump_id}")


def is_committed(fs, path) -> bool:
    """Whether the dump directory ``path`` (a Hadoop Path on ``fs``, see
    :func:`~kafka_topic_dumper_spark.session.hadoop_fs`) holds a
    :data:`COMMIT_MARKERS` entry — the one test that decides both what
    discovery may call "latest" and what a retried dump may overwrite."""
    return any(fs.exists(path.suffix(f"/{m}")) for m in COMMIT_MARKERS)


def apply_plan(records: DataFrame, plan: DumpPlan) -> DataFrame:
    """Filter a record table (with partition/offset columns) down to
    the plan's per-partition [start, end) ranges.

    For the real Kafka source the ranges are pushed INTO the source via
    startingOffsets/endingOffsets (sources/kafka.py) and this filter is
    a no-op safety net; for file-backed record tables (tests, replay
    from an archive) it IS the seek. The two map-literal lookups
    broadcast with the plan — no join, no shuffle.
    """
    start_map = F.create_map(
        *[F.lit(x) for p, o in sorted(plan.start_offsets.items()) for x in (p, o)]
    )
    end_map = F.create_map(
        *[F.lit(x) for p, o in sorted(plan.end_offsets.items()) for x in (p, o)]
    )
    return records.filter(
        (F.col("topic") == plan.topic)
        & (F.col("offset") >= start_map[F.col("partition")])
        & (F.col("offset") < end_map[F.col("partition")])
    )


def dump_batch(
    records: DataFrame,
    output_root: str,
    dump_id: str,
    max_records_per_file: int = 100,
) -> str:
    """Write (key, value) records as chunked Parquet under
    ``<root>/dump_id=<id>/``.

    B1 parity: ``maxRecordsPerFile`` bounds rows per file like the
    reference's max_package_size (main.py:47-49) but per-task — 1000
    executors chunk concurrently; the reference chunks serially in the
    driver. Compression is always :data:`COMPRESSION`.

    Retry: a directory left by a failed dump of the same id (no commit
    marker) is deleted first, so the retry writes afresh; a committed
    dump id still fails with ``PATH_ALREADY_EXISTS``. One writer per
    dump id is assumed, as with any retry.
    """
    path = dump_dir(output_root, dump_id)
    fs, target = hadoop_fs(records.sparkSession, path)
    if fs.exists(target) and not is_committed(fs, target):
        fs.delete(target, True)
    (
        records.select("key", "value")
        .write.mode("error")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", COMPRESSION)
        .parquet(path)
    )
    return path


def dump_stream(
    records,
    output_root: str,
    checkpoint_dir: str,
    max_records_per_file: int = 100,
    available_now: bool = True,
    dump_id: str | None = None,
):
    """Streaming dump: exactly-once Kafka→Parquet.

    ``availableNow`` drains everything the plan exposed and stops —
    the bounded-dump semantics of the reference's while-loop
    (kafka_client.py:238-255) — while the checkpoint WAL replaces its
    offset commits (kafka_client.py:158-166,174). Restart-safe: a
    crashed dump resumes from the checkpoint instead of re-reading.
    Returns the started StreamingQuery (caller awaits termination).
    ``available_now=False`` runs continuously on the default trigger: a
    micro-batch as soon as files arrive, and a wait of
    ``spark.sql.streaming.pollingDelay`` (100 ms under
    :func:`~kafka_topic_dumper_spark.session.get_session`) after a poll
    that found none.

    ``dump_id``: when given, files land under the catalog layout
    ``<output_root>/dump_id=<id>/`` that find_latest_dump_id/read_dump
    discover — pass it whenever the stream shares a root with batch
    dumps (a bare ``output_root`` write is invisible to the catalog
    and pollutes partition discovery; code-review r6). When None the
    caller owns the layout (the tests' dedicated-directory mode).
    """
    path = output_root if dump_id is None else dump_dir(output_root, dump_id)
    writer = (
        records.select("key", "value")
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", COMPRESSION)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
