"""Kafka source/sink option builders.

The container has no Kafka broker and no spark-sql-kafka connector jar,
so everything here is a pure option/DataFrame *builder* — unit-testable
without a broker — and the actual ``load()``/``start()`` happens behind
``require_kafka``. On a real cluster these produce the stock Structured
Streaming Kafka source (replacing the reference's consumer loop,
kafka_client.py:168-176) and Kafka sink (producer loop,
kafka_client.py:395-400).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_topic_dumper_spark.plans.offsets import DumpPlan

KAFKA_FORMAT = "kafka"


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath.

    Must be an ACTUAL class-load: py4j attribute traversal on a missing
    JVM class returns a JavaPackage object without raising, so the
    previous ``spark._jvm.org...KafkaSourceProvider`` probe was
    unconditionally True (verified by execution in a connector-less
    container — code-review r6) and require_kafka() never produced its
    actionable --packages message."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def require_kafka(spark: SparkSession) -> None:
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on the classpath; submit with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )


def bounded_read_options(bootstrap_servers: str, plan: DumpPlan) -> dict[str, str]:
    """Batch Kafka read options for a planned tail-N dump: the plan's
    per-partition ranges become startingOffsets/endingOffsets JSON —
    the idiomatic replacement for the reference's group commit+seek
    (kafka_client.py:158-166)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": plan.topic,
        "startingOffsets": plan.starting_offsets_json(),
        "endingOffsets": plan.ending_offsets_json(),
    }


def read_kafka_batch(
    spark: SparkSession, bootstrap_servers: str, plan: DumpPlan
) -> DataFrame:
    require_kafka(spark)
    reader = spark.read.format(KAFKA_FORMAT)
    for k, v in bounded_read_options(bootstrap_servers, plan).items():
        reader = reader.option(k, v)
    return reader.load()


def produce_test_messages(
    bootstrap_servers: str,
    topic: str,
    n_messages: int,
    producer_factory=None,
) -> int:
    """Load-generator for the broker harness — the port of the
    reference's standalone producer script (utils/kafka_producer.py:
    17-33: async value-only sends of ``"…test message {:015d}"``, one
    final flush). kafka-python is imported lazily (absent in this
    container, present wherever the compose harness runs);
    ``producer_factory`` is injectable for unit tests. Returns the
    number of messages sent."""
    if producer_factory is None:

        def producer_factory():
            from kafka import KafkaProducer

            return KafkaProducer(bootstrap_servers=bootstrap_servers)

    producer = producer_factory()
    try:
        for i in range(n_messages):
            producer.send(topic, f"This is a dummy test message {i:015d}".encode())
        producer.flush()
    finally:
        producer.close()
    return n_messages


def write_kafka(
    records: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """Batch Kafka sink for (key binary, value binary) rows — the
    reference's fire-and-forget produce loop + flush
    (kafka_client.py:395-400) becomes one distributed write with
    per-task producers and epoch-level flush."""
    require_kafka(records.sparkSession)
    (
        records.selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
        .write.format(KAFKA_FORMAT)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
