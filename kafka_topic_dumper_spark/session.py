"""SparkSession factory.

One place to encode the engine's execution posture:

- AQE on (runtime partition coalescing + skew-join handling) — at 100 TB
  the static plan is always wrong somewhere; AQE re-plans from runtime
  stats.
- UTC session timezone — parquet timestamps compare bit-identically
  against external oracles regardless of host TZ.
- Arrow transfer on — every pandas-UDF boundary is vectorized.
- shuffle partitions sized to the local core count for tests; on a real
  cluster this is overridden (or left to AQE's coalescing with a high
  initial value).
- a 100 ms streaming poll delay (Spark's default is 10 ms). It is the
  wait after a trigger that found no new data, read once per query, so
  it only matters to continuous queries (``available_now=False``); an
  availableNow query never sleeps on it. At 10 ms, polls for new files
  (``latestOffset``) took half of the continuous dump → reload chain's
  stream-thread CPU samples.
- the FileSystem-based checkpoint file manager instead of the
  FileContext one. Each offsets, commits and file-sink log entry is
  written to a temp file and renamed into place. Without the native
  libhadoop the FileContext rename forks a ``readlink`` for every data
  and ``.crc`` file it renames (``RawLocalFileSystem
  .getFileLinkStatus``), about 63 forks per streamed file. The
  FileSystem manager checks that the destination does not exist, then
  calls ``fs.rename``: on the local FS the same check-then-rename,
  without the forks. A second writer of the same entry still fails with
  ``FileAlreadyExistsException`` and leaves the first file intact; on
  HDFS and S3A ``fs.rename`` itself refuses an existing destination, so
  the outcome is the same there too.

A harness that builds its own vanilla session gets neither streaming
line: its continuous queries run slower, with the same results.

Every streaming query start would log ``ResolveWriteToStream:
spark.sql.adaptive.enabled is not supported in streaming``. Spark
4.1.2 warns whenever AQE is on, and it is on by default too, so
dropping the AQE line would not silence it. The session raises that
one logger to ERROR instead, so the warning does not bury real ones.
Its other warning, that a query without a checkpoint location got a
temporary one, goes with it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the logger that warns at every streaming query start that AQE is on
AQE_STREAM_WARN_LOGGER = (
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"
)


def hadoop_fs(spark: SparkSession, uri: str):
    """``(FileSystem, Path)`` for ``uri`` through the JVM's Hadoop API,
    so the same driver-side metadata call lists, reads and renames on
    file://, hdfs:// and s3a:// alike — and starts no Spark job. An
    unknown scheme raises here (Py4JJavaError). Build child paths as
    ``path.suffix("/" + name)``: resolving the Path class again over
    py4j costs several gateway round trips."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)  # noqa: SLF001
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path  # noqa: SLF001


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable on Python workers.

    Any UDF that references this package's module-level code is
    cloudpickled BY REFERENCE, so executors must be able to import it.
    On a cluster (or when the driver process didn't start in the repo
    root) that is not a given — ship the package as a zip via
    ``addPyFile`` once per session. Idempotent and cheap (the package
    is a few tens of KB).

    Whether it already shipped is read from the context's own file
    list, so a restarted context, whose list is empty, ships again."""
    sc = spark.sparkContext
    # the JVM's list as one string in one gateway call: the public
    # ``sc.listFiles`` resolves a Scala converter class by reflection
    # on every call (about 20 ms, 400 ms the first time), and plan
    # construction and every ``cli.main`` call come through here
    added = sc._jsc.sc().listFiles().mkString("\n")  # noqa: SLF001
    if any(os.path.basename(f).startswith("ktds_pkg_") for f in added.split("\n")):
        return
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="ktds_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    # the context holds its own copy after addPyFile; reclaim ours at
    # interpreter exit (one leaked temp zip per shipped session before)
    atexit.register(os.unlink, zip_path)


def get_session(
    app_name: str = "kafka_topic_dumper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default to local[$SPARK_GRAFT_CPUS];
    a cluster deployment passes its own master URL and lets AQE coalesce
    from a deliberately high initial shuffle-partition count.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is SESSION-scoped (no per-operator knob).
        # 100k rows/batch keeps per-batch Python overhead negligible for
        # the payload-metadata operators (stock 10000 measured ~9×
        # slower); a deployment streaming multi-MB payloads through
        # pandas UDFs should lower this.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.parquet.compression.codec", "gzip")
        # NOTE: no static nanosAsLong conf — sources/tables.load_table
        # sets it at runtime only when a parquet footer actually needs
        # it (the conf is runtime-settable, and the events testdata has
        # drifted between TIMESTAMP(NANOS) and timestamp[us]).
        # Reliable checkpoints (operators/graph.py writes one per
        # label-propagation sweep) are GC'd once their RDD is
        # unreferenced instead of accumulating a labels snapshot per
        # iteration in the checkpoint dir (ADVICE r5).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Continuous-stream CPU: fewer idle polls, and checkpoint renames
        # that fork no process (reasons in the module docstring).
        .config("spark.sql.streaming.pollingDelay", "100ms")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j  # noqa: SLF001
    log4j.core.config.Configurator.setLevel(AQE_STREAM_WARN_LOGGER, log4j.Level.ERROR)
    return spark
