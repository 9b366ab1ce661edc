"""CLI — mirrors the reference's surface (main.py:14-84) on Spark.

Actions:

- ``dump``: tail-N of a topic → chunked gzip Parquet under
  ``--output/dump_id=<id>/``.
- ``reload``: latest (or ``--prefix``) dump → transformer → producer
  sink, with idempotent hot-reload via the state manifest.

Broker-less mode: ``--records-parquet`` points at a Parquet "topic
archive" with Spark's Kafka source schema (topic, partition, offset,
timestamp, key, value) and stands in for the broker — the offset
planner, chunked writer, transformer, and state machinery all run for
real; only the Kafka I/O is swapped. With ``--bootstrap-servers`` the
real Kafka source/sink is used (requires the connector package).
"""

from __future__ import annotations

import argparse
import logging
import sys

from pyspark.sql import functions as F

log = logging.getLogger("kafka_topic_dumper_spark")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="kafka-topic-dumper-spark",
        description="Dump Kafka topics to Parquet and reload them, on Spark.",
    )
    p.add_argument("action", choices=["dump", "reload", "generate", "ingest", "prep"])
    p.add_argument("-t", "--topic", default="test", help="topic name")
    p.add_argument(
        "-b", "--bootstrap-servers", default=None, help="Kafka bootstrap servers"
    )
    p.add_argument(
        "--records-parquet",
        default=None,
        help="broker-less mode: parquet path with Kafka-source-schema records",
    )
    p.add_argument(
        "--output",
        default=None,
        help="output root (file:// or s3a://): dump/reload dump root; "
        "ingest parquet+quarantine root; prep vocab+shards root",
    )
    p.add_argument(
        "-n", "--num-messages", type=int, default=300, help="tail-N to dump"
    )
    p.add_argument(
        "-m",
        "--max-messages-per-package",
        type=int,
        default=100,
        help="max records per parquet file",
    )
    p.add_argument("-p", "--prefix", default=None, help="dump id / prefix")
    p.add_argument(
        "-f",
        "--transformer",
        default=None,
        help="module:Class transformer plug-in (default Identity)",
    )
    p.add_argument("-x", "--dry-run", action="store_true")
    p.add_argument(
        "-g",
        "--group",
        default=None,
        help="reload: consumer group whose offsets are reset to the "
        "state record's snapshot (B3; requires --bootstrap-servers)",
    )
    p.add_argument("--reload-output", default=None, help="broker-less reload sink path")
    p.add_argument(
        "--partitions", type=int, default=3, help="generate: topic partition count"
    )
    p.add_argument(
        "--input",
        default=None,
        help="ingest: JSONL/CSV corpus path; prep: documents parquet path",
    )
    p.add_argument(
        "--format",
        choices=["jsonl", "csv"],
        default="jsonl",
        help="ingest: input format",
    )
    p.add_argument(
        "--seq-len", type=int, default=512, help="prep: training sequence length"
    )
    p.add_argument(
        "--vocab-size", type=int, default=1024, help="prep: closed vocabulary size"
    )
    p.add_argument(
        "--near-dup",
        choices=["none", "minhash", "setsim"],
        default="none",
        help=(
            "prep: optional near-duplicate admission stage after the "
            "exact canonical dedup — 'minhash' replays the survivors "
            "through the ONLINE streaming MinHash-LSH ingest filter "
            "(the same operator as the streaming_dedup_minhash "
            "registry row), so the capstone pipeline exercises the "
            "production online path end-to-end; 'setsim' applies the "
            "EXACT batch rule instead — drop every doc with a "
            "smaller-id survivor at shingle-Jaccard >= 80%%, via the "
            "lossless PPJoin prefix-filtered similarity join "
            "(dedup_setsim_prefix_join) — no LSH probability, no "
            "recall trade"
        ),
    )
    p.add_argument(
        "--token-budget",
        type=int,
        default=0,
        help=(
            "prep: optional global token budget applied AFTER dedup/"
            "near-dup admission — greedy quality-first selection "
            "(the sample_token_budget registry operator: cumulative "
            "token count in quality-descending order via the "
            "distributed prefix sum); 0 disables"
        ),
    )
    return p.parse_args(argv)


def generate_archive(
    spark, path: str, topic: str, n_messages: int, n_partitions: int
) -> None:
    """Synthetic topic-archive generator — the stress fixture the
    reference ships as a standalone producer script
    (utils/kafka_producer.py:17-33: value-only messages
    ``"…test message {:015d}"``). Here it is a distributed write of
    the Kafka-source-schema parquet the broker-less mode consumes:
    spark.range is generated per-task (no driver loop, no broker)."""
    from pyspark.sql import functions as F

    (
        spark.range(n_messages)
        .select(
            F.lit(topic).alias("topic"),
            (F.col("id") % n_partitions).cast("int").alias("partition"),
            # integer division — float `/` loses exactness past 2^53
            # ids and would silently duplicate/skip offsets
            F.expr(f"id div {int(n_partitions)}").alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(None).cast("binary").alias("key"),  # value-only, like the reference
            F.encode(
                F.format_string("This is a dummy test message %015d", F.col("id")),
                "UTF-8",
            ).alias("value"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def _archive_offsets(records) -> tuple[dict[int, int], dict[int, int]]:
    """(beginning, end) per partition from a record archive — the
    stand-in for the reference's _get_offsets (kafka_client.py:122-142).
    End offsets are exclusive (last offset + 1), matching Kafka."""
    rows = (
        records.groupBy("partition")
        .agg(F.min("offset").alias("b"), (F.max("offset") + 1).alias("e"))
        .collect()
    )
    return {r["partition"]: r["b"] for r in rows}, {r["partition"]: r["e"] for r in rows}


class _NoOffsets(LookupError):
    """The reload's topic has no records in the archive, so no end
    offsets to snapshot."""


def main(argv: list[str] | None = None) -> int:
    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    opts = parse_args(argv)

    from kafka_topic_dumper_spark.functions.caching import (
        operator_caches,
        tracked_persist,
    )
    from kafka_topic_dumper_spark.plans.offsets import plan_tail_dump
    from kafka_topic_dumper_spark.session import get_session
    from kafka_topic_dumper_spark.streaming import dump as dump_mod
    from kafka_topic_dumper_spark.streaming import reload as reload_mod
    from kafka_topic_dumper_spark.transform import load_transformer

    if opts.action in ("dump", "reload") and not opts.output:
        log.error("%s needs --output", opts.action)
        return 2
    if opts.action == "reload" and opts.group and not opts.bootstrap_servers:
        # validate the pairing BEFORE the reload runs: failing after
        # would leave the replay's side effects applied (records
        # re-published / parquet appended) with the group never reset —
        # a half-applied B3 operation
        log.error("--group needs --bootstrap-servers to commit offsets")
        return 2

    spark = get_session("kafka-topic-dumper-spark-cli")

    if opts.action == "generate":
        if not opts.records_parquet:
            log.error("generate needs --records-parquet (output path)")
            return 2
        if opts.dry_run:
            log.info(
                "dry run — would generate %d messages across %d partitions at %s",
                opts.num_messages, opts.partitions, opts.records_parquet,
            )
            return 0
        generate_archive(
            spark, opts.records_parquet, opts.topic, opts.num_messages, opts.partitions
        )
        log.info(
            "generated %d messages across %d partitions at %s",
            opts.num_messages,
            opts.partitions,
            opts.records_parquet,
        )
        return 0

    if opts.action == "ingest":
        # raw corpus → typed parquet + quarantine, no row silently lost
        import os

        from kafka_topic_dumper_spark.sources.ingest import (
            read_csv,
            read_jsonl,
            split_quarantine,
        )

        if not opts.input or not opts.output:
            log.error("ingest needs --input and --output")
            return 2
        reader = read_jsonl if opts.format == "jsonl" else read_csv
        src = reader(spark, opts.input)
        if opts.dry_run:
            log.info("dry run — would ingest %s into %s", opts.input, opts.output)
            return 0
        # split_quarantine persists the parsed source, so the clean/bad
        # writes and both counts parse the corpus once; the scope
        # releases it when the block exits
        with operator_caches():
            clean, bad = split_quarantine(src)
            clean.write.mode("overwrite").parquet(os.path.join(opts.output, "clean"))
            n_bad = bad.count()
            if n_bad:
                bad.write.mode("overwrite").parquet(
                    os.path.join(opts.output, "quarantine")
                )
            log.info("ingested %d rows, quarantined %d", clean.count(), n_bad)
        return 0

    if opts.action == "prep":
        # the training-data prep statement end-to-end: quality filter →
        # canonical dedup → tokenize/pack → fixed-shape shards + the
        # vocabulary a loader needs. Each stage is the same operator
        # exposed as a registry query; the CLI only composes and writes.
        import os

        from kafka_topic_dumper_spark.operators.dedup import canonical_mapping
        from kafka_topic_dumper_spark.operators.packing import (
            token_vocab,
            tokenize_pack_ids,
        )
        from kafka_topic_dumper_spark.operators.text import quality_classifier
        from kafka_topic_dumper_spark.sinks.shards import write_token_shards

        if not opts.input or not opts.output:
            log.error("prep needs --input (documents parquet) and --output")
            return 2
        if opts.dry_run:
            log.info(
                "dry run — would prep %s into %s (seq_len=%d, vocab=%d)",
                opts.input, opts.output, opts.seq_len, opts.vocab_size,
            )
            return 0
        docs = spark.read.parquet(opts.input)
        # pin each stage: kept feeds the dedup window AND the survivor
        # semi-join (the classifier would run twice without it);
        # survivors feeds the vocab pass, the placement pass, and the
        # summary count (the dedup window would run three times). The
        # scope releases every pin when the block exits.
        with operator_caches():
            kept = tracked_persist(
                docs.join(
                    quality_classifier(docs).filter(F.col("keep")).select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
            )
            survivors = tracked_persist(
                kept.join(
                    canonical_mapping(kept)
                    .filter(F.col("is_dup") == 0)
                    .select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
            )
            if opts.near_dup == "minhash":
                # online near-dup admission (r7 verdict item 7): the
                # exact-dedup survivors replay through the streaming
                # MinHash-LSH ingest filter in doc_id-ranged micro-
                # batches — identical semantics to the registry row's
                # batch rule (a doc is dropped iff a SMALLER-id doc
                # shares any LSH band key), but exercised via the
                # production online path: per-batch signatures probing
                # the bucket-partitioned on-storage band index.
                import tempfile

                from kafka_topic_dumper_spark.streaming.queries import (
                    run_minhash_stream_filter,
                    write_ranged_replay_files,
                )

                # the replay copy of the corpus is only read by the
                # filter's stream; `admitted` reads the filter's own root
                with tempfile.TemporaryDirectory(prefix="prep_neardup_") as d:
                    replay = os.path.join(d, "replay")
                    write_ranged_replay_files(
                        survivors.select("doc_id", "text"),
                        replay,
                        4,
                        ("doc_id",),
                    )
                    admitted = run_minhash_stream_filter(spark, replay)
                survivors = tracked_persist(
                    survivors.join(admitted, "doc_id", "left_semi")
                )
            elif opts.near_dup == "setsim":
                # EXACT near-dup admission (round 8): same smaller-id-
                # survives precedence as the minhash path, but the
                # pair set is the LOSSLESS prefix-filtered similarity
                # join at Jaccard >= 80% — pairs are ordered
                # doc_a < doc_b, so the drop set is exactly the
                # distinct doc_b side.
                from kafka_topic_dumper_spark.operators.dedup import (
                    setsim_prefix_join_pairs,
                )

                drops = (
                    setsim_prefix_join_pairs(
                        survivors.select("doc_id", "text")
                    )
                    .select(F.col("doc_b").alias("doc_id"))
                    .distinct()
                )
                survivors = tracked_persist(
                    survivors.join(drops, "doc_id", "left_anti")
                )
            if opts.token_budget > 0:
                # budget-capped curation (round 9): keep the highest-
                # quality survivors until the global token budget is
                # spent — the same distributed-prefix-sum selection as
                # the sample_token_budget registry row, applied to the
                # post-dedup survivor set.
                from kafka_topic_dumper_spark.operators.text import (
                    token_budget_selection,
                )

                chosen = token_budget_selection(
                    survivors, opts.token_budget
                ).select("doc_id")
                survivors = tracked_persist(
                    survivors.join(chosen, "doc_id", "left_semi")
                )
            # admitted-set manifest: which doc_ids survived quality +
            # exact dedup (+ optional near-dup admission) — the
            # lineage record a downstream auditor or resumable
            # backfill joins against
            survivors.select("doc_id").write.mode("overwrite").parquet(
                os.path.join(opts.output, "kept_docs")
            )
            vocab = token_vocab(survivors, opts.vocab_size)
            vocab.write.mode("overwrite").parquet(
                os.path.join(opts.output, "vocab")
            )
            vocab_back = spark.read.parquet(os.path.join(opts.output, "vocab"))
            cells = tokenize_pack_ids(
                survivors, seq_len=opts.seq_len, vocab=vocab_back
            )
            write_token_shards(
                cells, os.path.join(opts.output, "shards"), opts.seq_len
            )
            n_seq = spark.read.parquet(
                os.path.join(opts.output, "shards")
            ).count()
            log.info(
                "prep: %d docs in, %d kept after quality+dedup, %d sequences "
                "of %d tokens at %s",
                docs.count(), survivors.count(), n_seq, opts.seq_len, opts.output,
            )
        return 0

    if opts.action == "dump":
        dump_id = dump_mod.make_dump_id(opts.prefix)
        if opts.records_parquet:
            archive = spark.read.parquet(opts.records_parquet)
            beginning, end = _archive_offsets(archive.filter(F.col("topic") == opts.topic))
            if not end:
                # same guard the reload path has: a typo'd topic must
                # log-and-exit-2, not surface plan_tail_dump's
                # ValueError as a raw traceback
                log.error("topic %r has no records in the archive", opts.topic)
                return 2
            plan = plan_tail_dump(opts.topic, beginning, end, opts.num_messages)
            records = dump_mod.apply_plan(archive, plan)
        else:
            if not opts.bootstrap_servers:
                log.error("need --bootstrap-servers or --records-parquet")
                return 2
            # beginning/end offsets come from the source itself via
            # startingOffsets=earliest metadata; a production deploy
            # fetches them with KafkaAdminClient (sources/kafka.py has
            # the bounded read; only the offset fetch is missing here).
            log.error(
                "live-Kafka dump requires the admin-client offset fetch; "
                "not available in this environment"
            )
            return 2
        log.info(
            "dump %s: %d messages planned (requested %d)",
            dump_id,
            plan.available_messages,
            opts.num_messages,
        )
        if opts.dry_run:
            log.info("dry run — not writing")
            return 0
        path = dump_mod.dump_batch(
            records, opts.output, dump_id, opts.max_messages_per_package
        )
        log.info("dump written: %s", path)
        return 0

    # reload
    transformer = load_transformer(opts.transformer)
    try:
        dump_id = opts.prefix or reload_mod.find_latest_dump_id(spark, opts.output)
    except FileNotFoundError as exc:
        log.error("nothing to reload: %s", exc)
        return 2
    # End offsets are snapshotted only on a cold reload, inside
    # reload_dump and before anything is produced (kafka_client.py:378);
    # a hot skip never reads the archive or asks the broker.
    if opts.records_parquet:

        def end_offsets():
            archive = spark.read.parquet(opts.records_parquet)
            _, end = _archive_offsets(archive.filter(F.col("topic") == opts.topic))
            if not end:
                # reference parity: "Can not find offsets" is fatal
                # (kafka_client.py:301 always snapshots REAL end
                # offsets) — a state record with empty offsets would
                # leave a later hot-reload skip with nothing to seek
                # consumers to
                raise _NoOffsets(opts.topic)
            return end
    elif opts.bootstrap_servers:
        from kafka_topic_dumper_spark.streaming.group_offsets import fetch_end_offsets

        def end_offsets():
            return fetch_end_offsets(opts.bootstrap_servers, opts.topic)
    else:
        # no archive and no broker to snapshot offsets from: refuse
        # rather than write an unusable state record (reference
        # 'Can not find offsets', kafka_client.py:137)
        log.error(
            "reload needs --records-parquet or --bootstrap-servers to "
            "snapshot end offsets (a state record with empty offsets "
            "cannot seed a hot-reload seek)"
        )
        return 2
    if opts.reload_output:
        sink_id = f"parquet:{opts.reload_output}"

        def sink(df):
            df.write.mode("append").parquet(opts.reload_output)
    elif opts.bootstrap_servers:
        from kafka_topic_dumper_spark.sources.kafka import write_kafka

        sink_id = f"kafka:{opts.bootstrap_servers}/{opts.topic}"

        def sink(df):
            write_kafka(df, opts.bootstrap_servers, opts.topic)
    else:
        log.error("need --reload-output or --bootstrap-servers")
        return 2
    if opts.dry_run:
        # -x previously fell through and produced to the live sink —
        # the one flag whose whole job is to prevent that
        log.info(
            "dry run — would reload dump %s of topic %r to %s "
            "(transformer %s), then write a state record",
            dump_id, opts.topic, sink_id, transformer.get_id(),
        )
        return 0
    try:
        result = reload_mod.reload_dump(
            spark,
            opts.output,
            dump_id,
            transformer,
            opts.topic,
            end_offsets,
            sink,
            sink_id=sink_id,
        )
    except _NoOffsets:
        log.error("can not find offsets for topic %r in archive", opts.topic)
        return 2
    log.info("reload result: %s", result["action"])
    if opts.group:
        # pairing with --bootstrap-servers was validated up front
        from kafka_topic_dumper_spark.streaming.group_offsets import (
            kafka_python_committer,
            reset_group_to_state,
        )

        committed = reset_group_to_state(
            result["state"],
            opts.topic,
            kafka_python_committer(opts.bootstrap_servers, opts.group),
        )
        log.info("group %s reset to %s", opts.group, committed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
