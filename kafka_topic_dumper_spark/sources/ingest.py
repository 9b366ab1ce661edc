"""Raw-corpus ingest sources: JSONL and CSV → typed DataFrames.

Production corpora arrive as compressed JSONL / CSV long before they
are parquet. The scale rules this module encodes:

- **Explicit schema, never inference.** Schema inference is a full
  extra pass over the data (at 100 TB, a second 100 TB read) and can
  silently flip a column's type when a later file disagrees. Callers
  pass (or reuse) a `StructType`; the reader does one pass.
- **PERMISSIVE with a corrupt-record column.** A multi-TB crawl WILL
  contain malformed lines; failing the job on line 40 billion is not
  an option, and silently dropping rows (DROPMALFORMED) hides data
  loss. Bad lines land in ``_corrupt_record`` so the pipeline can
  count, sample, and quarantine them — the audit trail a training-data
  pipeline needs.
- Line-based formats split by newline, so both read in parallel per
  file chunk (gzip members are the exception — one task per .gz file;
  prefer zstd/bzip2 or pre-split inputs at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_topic_dumper_spark.functions.caching import (
    materialized,
    operator_caches,
    tracked_persist,
)
from kafka_topic_dumper_spark.session import hadoop_fs
from kafka_topic_dumper_spark.sources.tables import load_table

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _with_corrupt(schema: T.StructType) -> T.StructType:
    """The corrupt-record column must be IN the schema to be populated."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType = DOCUMENTS_SCHEMA
) -> DataFrame:
    """One JSON object per line → typed rows + ``_corrupt_record``."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    header: bool = True,
) -> DataFrame:
    """CSV with explicit schema → typed rows + ``_corrupt_record``."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("multiLine", "false")
        .csv(path)
    )


def split_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the audit column, quarantined raw lines).
    The caller writes the quarantine out next to the ingested table —
    rows are never silently lost.

    The parsed rows are persisted first: Spark refuses corrupt-column-
    only queries over an unparsed file scan (the column exists only
    during parsing), and operationally you want to PARSE ONCE and
    split twice rather than re-read the raw corpus per side."""
    raw = tracked_persist(raw)
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(F.col(CORRUPT_COL).alias("raw_line"))
    return clean, bad


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming twin of :func:`read_jsonl`: a file-source stream over
    a landing directory — the continuous-ingestion front door. Same
    explicit schema, same PERMISSIVE corrupt-record capture; new files
    dropped into ``path`` become micro-batches."""
    return (
        spark.readStream.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(path)
    )


def ingest_stream(
    spark: SparkSession,
    in_path: str,
    out_root: str,
    checkpoint: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    available_now: bool = True,
):
    """Continuous quarantining ingest: stream the landing directory,
    split every micro-batch into clean rows and corrupt raw lines, and
    write both — no line silently lost, same audit contract as the
    batch path.

    Exactly-once story: each side writes to a PER-BATCH directory
    (``ingest_batch=<id>``) with mode=overwrite, so a batch retried
    after a crash overwrites its own partial output instead of
    appending duplicates — the same idempotent dynamic-overwrite
    pattern as the streaming MERGE maintenance row
    (streaming/queries.py). Readers see the union via
    ``spark.read.parquet(out_root + "/clean")``.

    ``available_now=False`` keeps the query running on the default
    trigger, as in ``streaming.dump.dump_stream``: a micro-batch per
    landed file, and a ``spark.sql.streaming.pollingDelay`` wait (100
    ms under ``session.get_session``) after a poll that found none."""
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the scope releases this batch's persist when the batch ends: a
        # long-running query must not pin one cached batch per trigger
        with operator_caches():
            clean, bad = split_quarantine(batch_df)
            clean.write.mode("overwrite").parquet(
                os.path.join(out_root, "clean", f"ingest_batch={batch_id}")
            )
            if bad.count():
                bad.write.mode("overwrite").parquet(
                    os.path.join(out_root, "quarantine", f"ingest_batch={batch_id}")
                )

    stream = read_jsonl_stream(spark, in_path, schema)
    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_quarantine(spark: SparkSession, out_root: str) -> DataFrame:
    """The audit-trail read for :func:`ingest_stream`'s quarantine side.
    A fully-clean stream never creates the quarantine directory (empty
    per-batch parquet writes would just be clutter), so the bare
    ``spark.read.parquet`` throws PATH_NOT_FOUND — this helper returns
    an EMPTY (raw_line string) frame instead, so monitoring code needs
    no special case. Existence goes through the Hadoop FileSystem API
    (same device as streaming/reload.py::find_latest_dump_id) so
    file://, hdfs:// and s3a:// roots all work — an os.path check
    would silently report an empty audit trail for every URI root
    (review r6)."""
    fs, qpath = hadoop_fs(spark, out_root.rstrip("/") + "/quarantine")
    if not fs.exists(qpath):
        return spark.createDataFrame([], "raw_line string")
    return spark.read.parquet(out_root.rstrip("/") + "/quarantine")


def write_orc(df, path: str) -> None:
    """Columnar ORC sink — Spark's built-in native ORC writer (no
    external connector; orc-core ships in the distribution). Snappy
    by default, same predicate-pushdown/column-pruning story as
    parquet on the read side."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Native ORC reader (vectorized; filters and column pruning push
    to the stripe/row-group level exactly like parquet)."""
    return spark.read.orc(path)


def _roundtrip_cache(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """documents materialized once per (process, sf_dir, fmt) in the
    given format, then read back through the PERMISSIVE quarantine
    reader (jsonl/csv) or the native reader (orc)."""
    writer, reader = {
        "jsonl": (lambda df, p: df.write.mode("overwrite").json(p), read_jsonl),
        "csv": (
            lambda df, p: df.write.mode("overwrite").option("header", "true").csv(p),
            read_csv,
        ),
        "orc": (write_orc, read_orc),
    }[fmt]
    path = materialized(
        ("roundtrip", fmt, sf_dir),
        lambda p: writer(load_table(spark, sf_dir, "documents"), p),
        prefix=f"{fmt}_roundtrip_",
        leaf=f"documents_{fmt}",
    )
    return reader(spark, path)


def register(reg) -> None:
    _ROUNDTRIP_ORACLE = """
        SELECT doc_id, md5(text) AS text_md5, lang, source,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        """

    def _emit(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.md5("text").alias("text_md5"),
            "lang",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )

    @reg("source_jsonl_roundtrip", _ROUNDTRIP_ORACLE)
    def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """documents → JSONL write → PERMISSIVE quarantine reader
        (round 8): the text landing format round-trips byte-exact
        (JSON escaping carries any character) with zero rows
        quarantined, against the parquet-backed oracle."""
        d = _roundtrip_cache(spark, sf_dir, "jsonl")
        return _emit(d.filter(F.col(CORRUPT_COL).isNull()))

    @reg("source_csv_roundtrip", _ROUNDTRIP_ORACLE)
    def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """documents → CSV write (quoted) → PERMISSIVE quarantine
        reader (round 8): same byte-exact round-trip contract through
        the second text format."""
        d = _roundtrip_cache(spark, sf_dir, "csv")
        return _emit(d.filter(F.col(CORRUPT_COL).isNull()))

    @reg(
        "source_orc_roundtrip",
        """
        SELECT doc_id, md5(text) AS text_md5, lang, source,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        """,
    )
    def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """documents round-tripped through Spark's native ORC
        writer+reader (round 8) — the second columnar source format
        beside parquet, verified byte-exact against the PARQUET-backed
        oracle (md5 of every text plus all metadata columns), so a
        user can land or consume the corpus in either format."""
        return _emit(_roundtrip_cache(spark, sf_dir, "orc"))
