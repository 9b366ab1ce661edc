"""End-to-end dump → reload through the broker-less record archive
(FIXTURES.md §1.1): offset planning, chunked gzip parquet write,
catalog discovery, transformer flat-map, state manifest, and the
idempotent hot-reload skip — the reference's three entry points
(SURVEY §3) minus only the Kafka wire protocol."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_topic_dumper_spark.plans.offsets import plan_tail_dump
from kafka_topic_dumper_spark.session import hadoop_fs
from kafka_topic_dumper_spark.streaming import dump as dump_mod
from kafka_topic_dumper_spark.streaming import reload as reload_mod
from kafka_topic_dumper_spark.streaming import state as state_mod
from kafka_topic_dumper_spark.transform import (
    Identity,
    Transformer,
    apply_transformer,
    load_transformer,
)

ARCHIVE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
    ]
)

N_PER_PARTITION = 400
PARTITIONS = 3


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    """Synthetic topic archive: 3 partitions × 400 messages, ~30% null
    keys, reference-generator-style values (utils/kafka_producer.py:24-31)."""
    rows = []
    for p in range(PARTITIONS):
        for o in range(N_PER_PARTITION):
            i = p * N_PER_PARTITION + o
            rows.append(
                Row(
                    topic="test",
                    partition=p,
                    offset=o,
                    timestamp=None,
                    key=None if i % 10 < 3 else f"k{i}".encode(),
                    value=f"some test message {i:015d}".encode(),
                )
            )
    path = str(tmp_path_factory.mktemp("archive") / "records.parquet")
    spark.createDataFrame(rows, schema=ARCHIVE_SCHEMA).write.parquet(path)
    return path


def _offsets(spark, archive):
    df = spark.read.parquet(archive)
    rows = (
        df.groupBy("partition")
        .agg(F.min("offset").alias("b"), (F.max("offset") + 1).alias("e"))
        .collect()
    )
    return {r["partition"]: r["b"] for r in rows}, {r["partition"]: r["e"] for r in rows}


def test_dump_tail_n_chunked(spark, archive, tmp_path):
    out = str(tmp_path / "dumps")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 90)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    path = dump_mod.dump_batch(records, out, "20260813000000", max_records_per_file=25)

    # tail-N semantics: ceil(90/3)=30 per partition
    assert plan.available_messages == 90
    written = spark.read.parquet(path)
    assert written.count() == 90
    assert set(written.columns) == {"key", "value"}

    files = glob.glob(os.path.join(path, "*.parquet"))
    # B1: no file exceeds the chunk size; compression is gzip (K1 parity)
    for f in files:
        meta = pq.ParquetFile(f)
        assert meta.metadata.num_rows <= 25
        assert meta.metadata.row_group(0).column(0).compression == "GZIP"

    # the dump root is a queryable partitioned table (dump_id pruning)
    all_dumps = spark.read.parquet(out)
    assert all_dumps.filter(F.col("dump_id") == "20260813000000").count() == 90


def test_dump_clamps_at_partition_beginning(spark, archive, tmp_path):
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 10**6)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    assert records.count() == PARTITIONS * N_PER_PARTITION  # everything, no underflow


def test_find_latest_dump_id(spark, archive, tmp_path):
    out = str(tmp_path / "dumps")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 30)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    for dump_id in ["20260101000000", "20260813120000", "20250505050505"]:
        dump_mod.dump_batch(records, out, dump_id)
    assert reload_mod.find_latest_dump_id(spark, out) == "20260813120000"
    with pytest.raises(FileNotFoundError):
        reload_mod.find_latest_dump_id(spark, str(tmp_path / "nope"))


def test_failed_dump_never_becomes_latest(spark, archive, tmp_path):
    """Discovery accepts only committed dumps: a batch dump whose job
    failed leaves an empty dump_id=<id>/ directory that must not shadow
    the committed one, and a streaming dump written with a dump_id
    (no _SUCCESS, a _spark_metadata log instead) still counts."""
    out = str(tmp_path / "dumps")
    beginning, end = _offsets(spark, archive)
    records = dump_mod.apply_plan(
        spark.read.parquet(archive), plan_tail_dump("test", beginning, end, 30)
    )
    dump_mod.dump_batch(records, out, "20260101000000")

    @F.udf("binary")
    def fail(v):
        raise RuntimeError("injected dump failure")

    with pytest.raises(Exception, match="injected dump failure"):
        dump_mod.dump_batch(
            records.withColumn("value", fail("value")), out, "20990101000000"
        )
    assert os.path.isdir(os.path.join(out, "dump_id=20990101000000"))
    assert reload_mod.find_latest_dump_id(spark, out) == "20260101000000"

    src = str(tmp_path / "incoming")
    records.write.parquet(src)
    q = dump_mod.dump_stream(
        spark.readStream.schema("key binary, value binary").parquet(src),
        out,
        str(tmp_path / "ckpt"),
        dump_id="20270101000000",
    )
    q.awaitTermination(120)
    assert not os.path.exists(os.path.join(out, "dump_id=20270101000000", "_SUCCESS"))
    latest = reload_mod.find_latest_dump_id(spark, out)
    assert latest == "20270101000000"
    assert reload_mod.read_dump(spark, out, latest).count() == 30

    only_failed = tmp_path / "only_failed"
    os.makedirs(only_failed / "dump_id=20990101000000")
    with pytest.raises(FileNotFoundError, match="no committed dumps"):
        reload_mod.find_latest_dump_id(spark, str(only_failed))


def test_transformer_flatmap_semantics(spark):
    df = spark.createDataFrame(
        [Row(key=b"a", value=b"1"), Row(key=None, value=b"2")],
        schema="key binary, value binary",
    )
    assert apply_transformer(df, Identity()).count() == 2
    exploded = apply_transformer(df, load_transformer("tests.plugin_transformers:Explode"))
    assert exploded.count() == 4
    vals = sorted(r.value for r in exploded.collect())
    assert b"1-copy" in vals and b"2-copy" in vals
    dropped = apply_transformer(df, load_transformer("tests.plugin_transformers:Drop"))
    assert dropped.count() == 1  # null-keyed row dropped (1→0)


def test_reload_cold_then_hot(spark, archive, tmp_path):
    out = str(tmp_path / "dumps")
    sink_path = str(tmp_path / "produced")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 60)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, "20260813000001", max_records_per_file=20)

    transformer = load_transformer("tests.plugin_transformers:Explode")

    def sink(df):
        df.write.mode("append").parquet(sink_path)

    # cold reload: data moves, state written AFTER produce
    r1 = reload_mod.reload_dump(
        spark, out, "20260813000001", transformer, "test", lambda: end, sink
    )
    assert r1["action"] == "reloaded"
    assert spark.read.parquet(sink_path).count() == 120  # Explode: 60 → 120
    assert r1["state"]["offsets"] == {str(p): int(o) for p, o in end.items()}

    # hot reload: matching state ⇒ NO data movement (P3 predicate)
    r2 = reload_mod.reload_dump(
        spark, out, "20260813000001", transformer, "test", lambda: end, sink
    )
    assert r2["action"] == "hot_reload_skip"
    assert spark.read.parquet(sink_path).count() == 120  # unchanged

    # different transformer ⇒ cache miss ⇒ reload again
    r3 = reload_mod.reload_dump(
        spark, out, "20260813000001", Identity(), "test", lambda: end, sink
    )
    assert r3["action"] == "reloaded"
    assert spark.read.parquet(sink_path).count() == 180  # +60 identity rows


def test_state_manifest_argmax(spark, tmp_path):
    root = str(tmp_path / "state")
    state_mod.save_state(
        spark, root, state_mod.gen_state("d1", "test", {0: 5}, "Identity", dump_date=100)
    )
    state_mod.save_state(
        spark, root, state_mod.gen_state("d2", "test", {0: 9}, "Identity", dump_date=300)
    )
    state_mod.save_state(
        spark, root, state_mod.gen_state("d3", "test", {0: 7}, "Identity", dump_date=200)
    )
    latest = state_mod.read_latest_state(spark, root)
    assert latest["dump_id"] == "d2"  # argmax by dump_date, not insertion order
    assert latest["offsets"] == {"0": 9}
    assert state_mod.read_latest_state(spark, str(tmp_path / "missing")) is None


def test_ordered_replay_preserves_file_order(spark, archive, tmp_path):
    out = str(tmp_path / "dumps")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 50)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan).orderBy(
        "partition", "offset"
    )
    dump_mod.dump_batch(records, out, "20260813000002", max_records_per_file=10)

    collected = []

    def sink(df):
        collected.extend(r.value for r in df.collect())

    reload_mod.reload_dump(
        spark,
        out,
        "20260813000002",
        Identity(),
        "test",
        lambda: end,
        sink,
        ordered=True,
    )
    # within each source file, original row order must be intact
    df = reload_mod.read_dump(spark, out, "20260813000002")
    expected_by_file = {}
    for r in df.select("_src_file", "_seq", "value").collect():
        expected_by_file.setdefault(r._src_file, []).append((r._seq, r.value))
    expected = []
    for f in sorted(expected_by_file):
        expected.extend(v for _, v in sorted(expected_by_file[f]))
    assert collected == expected


def test_dump_stream_exactly_once_resume(spark, tmp_path):
    """Streaming dump with checkpoint: a second availableNow run over
    the same source writes ONLY the newly-arrived records — the WAL
    replaces the reference's offset commits (kafka_client.py:158-166)
    and upgrades its at-least-once to exactly-once (SURVEY §2.9)."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "dump_out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def batch(lo, hi):
        return spark.createDataFrame(
            [
                Row(
                    topic="test",
                    partition=0,
                    offset=i,
                    timestamp=None,
                    key=f"k{i}".encode(),
                    value=f"v{i:06d}".encode(),
                )
                for i in range(lo, hi)
            ],
            schema=ARCHIVE_SCHEMA,
        )

    batch(0, 100).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ARCHIVE_SCHEMA).parquet(src)
    q = dump_mod.dump_stream(stream, out, ckpt, max_records_per_file=40)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 100

    # new arrivals + restart from the same checkpoint → no re-dump
    batch(100, 150).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(ARCHIVE_SCHEMA).parquet(src)
    q2 = dump_mod.dump_stream(stream2, out, ckpt, max_records_per_file=40)
    q2.awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == 150
    assert result.select("value").distinct().count() == 150


def test_reload_stream_exactly_once(spark, archive, tmp_path):
    """Streaming replay through the transformer: re-running against the
    same checkpoint must not re-produce rows (exactly-once — an
    upgrade over the reference's at-least-once produce loop)."""
    out = str(tmp_path / "dumps")
    sink = str(tmp_path / "replayed")
    ckpt = str(tmp_path / "ckpt")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 60)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, "20260813000002", max_records_per_file=20)

    transformer = load_transformer("tests.plugin_transformers:Explode")
    q = reload_mod.reload_stream(
        spark, out, "20260813000002", transformer, ckpt, sink
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 120  # Explode: 60 → 120

    # identical re-run, same checkpoint: nothing new to process
    q2 = reload_mod.reload_stream(
        spark, out, "20260813000002", transformer, ckpt, sink
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 120


def _land(directory, i, n):
    """Land one archive file of ``n`` (key, value) rows whole: written
    under a dot-name the file source skips, then renamed into place."""
    values = [f"f{i}-r{j:04d}".encode() for j in range(n)]
    table = pa.table(
        {"key": pa.array([v[:2] for v in values], pa.binary()), "value": pa.array(values, pa.binary())}
    )
    tmp = os.path.join(directory, f".part-{i:04d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, f"part-{i:04d}.parquet"))
    return values


def test_continuous_chain_delivers_each_row_once(spark, tmp_path):
    """The continuous chain (``available_now=False``, the only mode
    ``stream_replay`` benches) under the session's 100 ms poll delay:
    files landing one at a time reach the reload's sink, every row
    exactly once, and the dump lands in the catalog layout."""
    incoming, out, sink = (str(tmp_path / d) for d in ("incoming", "dumps", "sink"))
    os.makedirs(incoming)
    os.makedirs(dump_mod.dump_dir(out, "continuous"))
    records = spark.readStream.schema("key binary, value binary").parquet(incoming)
    q_dump = q_reload = None
    try:
        q_dump = dump_mod.dump_stream(
            records, out, str(tmp_path / "ckpt-dump"), available_now=False, dump_id="continuous"
        )
        q_reload = reload_mod.reload_stream(
            spark, out, "continuous", Identity(), str(tmp_path / "ckpt-reload"), sink,
            available_now=False,
        )
        expected = []
        for i in range(3):
            expected += _land(incoming, i, 50)
            q_dump.processAllAvailable()
            q_reload.processAllAvailable()
            got = [r.value for r in spark.read.parquet(sink).select("value").collect()]
            assert sorted(got) == sorted(expected)
        assert q_dump.isActive and q_reload.isActive
    finally:
        for q in (q_dump, q_reload):
            if q is not None:
                q.stop()
    assert reload_mod.find_latest_dump_id(spark, out) == "continuous"


def test_checkpoint_manager_is_fork_free_and_refuses_overwrite(spark, tmp_path):
    """The session posture picks the FileSystem-based checkpoint file
    manager (no ``readlink`` fork per rename), and it keeps the
    contract every WAL write relies on: a second no-overwrite write of
    an existing entry raises FileAlreadyExistsException and leaves the
    first entry's bytes as they were."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/offsets/0")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = checkpointing.CheckpointFileManager.create(path.getParent(), hadoop_conf)
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    )

    manager.mkdirs(path.getParent())  # as the metadata logs do before writing

    def write(data: bytes):
        stream = manager.createAtomic(path, False)
        stream.write(bytearray(data))
        stream.close()

    write(b"first")
    with pytest.raises(Py4JJavaError) as err:
        write(b"second")
    exists_error = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists_error.isInstance(err.value.java_exception)
    assert (tmp_path / "offsets" / "0").read_bytes() == b"first"


def test_session_silences_the_streaming_aqe_warning(spark):
    """``get_session`` raises the logger that warns about AQE at every
    streaming query start to ERROR; the root logger stays at WARN."""
    from kafka_topic_dumper_spark.session import AQE_STREAM_WARN_LOGGER

    log_manager = spark._jvm.org.apache.logging.log4j.LogManager
    assert log_manager.getLogger(AQE_STREAM_WARN_LOGGER).getLevel().toString() == "ERROR"
    assert log_manager.getRootLogger().getLevel().toString() == "WARN"


def test_reload_stream_resumes_after_transformer_failure(spark, archive, tmp_path):
    """A transformer that fails once mid-replay fails the streaming
    reload after its offsets entry is in the WAL but before the batch
    is committed; a restart on the same checkpoint re-runs that batch
    and the sink holds every dumped row exactly once."""
    out, sink, ckpt = str(tmp_path / "dumps"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _dump_60(spark, archive, out, "20260901000000")
    dumped = sorted(r.value for r in reload_mod.read_dump(spark, out, "20260901000000").collect())
    failing = load_transformer("tests.plugin_transformers:FailOnce")
    failing.marker = str(tmp_path / "failed-once")

    q = reload_mod.reload_stream(spark, out, "20260901000000", failing, ckpt, sink)
    with pytest.raises(Exception, match="injected transformer failure"):
        q.awaitTermination(120)
    assert os.path.exists(failing.marker)
    assert os.path.exists(os.path.join(ckpt, "offsets", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))

    q2 = reload_mod.reload_stream(spark, out, "20260901000000", failing, ckpt, sink)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert sorted(r.value for r in spark.read.parquet(sink).collect()) == dumped


PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonUDF", "BatchEvalPython", "ArrowEvalPython")


def _dump_60(spark, archive, out, dump_id):
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 60)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, dump_id, max_records_per_file=20)
    return end


def test_identity_reload_plans_no_python_node(spark, archive, tmp_path):
    """Identity's transform_frame makes the default reload a projection:
    the frame the batch sink receives and the streaming query's
    executed plan hold no Python node, so no Python worker is forked.
    A row-path plug-in (Explode) still plans through mapInPandas."""
    out = str(tmp_path / "dumps")
    end = _dump_60(spark, archive, out, "20260817000001")

    def plans(transformer):
        name = transformer.get_id()
        sunk = []

        def sink(df):
            sunk.append((df._jdf.queryExecution().executedPlan().toString(), df.count()))

        reload_mod.reload_dump(
            spark, out, "20260817000001", transformer, "test", lambda: end, sink
        )
        stream_sink = str(tmp_path / f"sink-{name}")
        q = reload_mod.reload_stream(
            spark, out, "20260817000001", transformer, str(tmp_path / f"ckpt-{name}"), stream_sink
        )
        q.awaitTermination(120)
        stream_plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
        [(batch_plan, batch_rows)] = sunk
        return batch_plan, stream_plan, batch_rows, spark.read.parquet(stream_sink).count()

    batch_plan, stream_plan, batch_rows, stream_rows = plans(Identity())
    for plan in (batch_plan, stream_plan):
        assert "FileScan parquet" in plan
        assert not [n for n in PYTHON_NODES if n in plan], plan
    assert (batch_rows, stream_rows) == (60, 60)

    explode = load_transformer("tests.plugin_transformers:Explode")
    batch_plan, stream_plan, batch_rows, stream_rows = plans(explode)
    assert "MapInPandas" in batch_plan and "MapInPandas" in stream_plan
    assert (batch_rows, stream_rows) == (120, 120)


def test_transform_only_subclass_of_identity_keeps_row_path(spark, archive, tmp_path):
    """A plug-in that subclasses Identity and overrides only transform
    inherits Identity's transform_frame; using it would silently skip
    the override. The reload must emit the transformed rows."""
    out = str(tmp_path / "dumps")
    end = _dump_60(spark, archive, out, "20260817000002")
    collected = []

    def sink(df):
        collected.extend(r.value for r in df.collect())

    reload_mod.reload_dump(
        spark, out, "20260817000002",
        load_transformer("tests.plugin_transformers:SuffixedIdentity"),
        "test", lambda: end, sink,
    )
    dumped = [r.value for r in reload_mod.read_dump(spark, out, "20260817000002").collect()]
    assert len(dumped) == 60
    assert sorted(collected) == sorted(v + b"-sfx" for v in dumped)


class _FrameOnly(Transformer):
    """A frame-path plug-in whose output is chosen by the test."""

    def __init__(self, frame_fn):
        self.frame_fn = frame_fn

    def transform_frame(self, records):
        return self.frame_fn(records)

    def get_id(self) -> str:
        return "FrameOnly"


@pytest.mark.parametrize(
    "frame_fn",
    [
        lambda df: df.select(F.col("key").cast("string").alias("key"), "value"),
        lambda df: df.select("value"),
        lambda df: df.select("value", "key"),
        lambda df: df.withColumnRenamed("value", "payload"),
        lambda df: df.withColumn("extra", F.lit(1)),
        lambda df: None,
    ],
    ids=["key-string", "missing-key", "reordered", "renamed", "extra-column", "not-a-frame"],
)
def test_transform_frame_output_is_checked_at_plan_time(spark, archive, tmp_path, frame_fn):
    """transform_frame must return exactly key binary, value binary: any
    other output raises ValueError naming the plug-in before the sink
    runs, and the manifest stays untouched."""
    out = str(tmp_path / "dumps")
    end = _dump_60(spark, archive, out, "20260817000003")
    sunk = []
    with pytest.raises(ValueError, match="'FrameOnly'"):
        reload_mod.reload_dump(
            spark, out, "20260817000003", _FrameOnly(frame_fn), "test", lambda: end, sunk.append
        )
    assert sunk == []
    assert state_mod.read_latest_state(spark, os.path.join(out, "_state")) is None


def test_transform_frame_output_ignores_nullability(spark):
    df = spark.createDataFrame([(b"k", b"v"), (None, b"w")], "key binary, value binary")
    non_null_key = _FrameOnly(
        lambda d: d.select(F.coalesce("key", F.lit(b"")).alias("key"), "value")
    )
    assert sorted(apply_transformer(df, non_null_key).collect()) == [(b"", b"w"), (b"k", b"v")]


def test_cli_path_imports_no_pandas():
    """pandas is imported only by the row adapter, on first use: a
    fresh CLI process (dump, or an Identity reload) never pays for it."""
    code = (
        "import sys, kafka_topic_dumper_spark.cli, kafka_topic_dumper_spark.streaming.reload, "
        "kafka_topic_dumper_spark.transform; print('pandas' in sys.modules)"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=120
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "False"


_PLUGIN_RELOAD_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from kafka_topic_dumper_spark import cli
from pyspark.sql import SparkSession

archive, dumps, sink = sys.argv[2:5]
base = ["--records-parquet", archive, "-t", "test", "--output", dumps]
codes = [
    cli.main(["generate", *base[:4], "-n", "120", "--partitions", "3"]),
    cli.main(["dump", *base, "-n", "60", "-p", "20260816000001"]),
    cli.main(["reload", *base, "--reload-output", sink,
              "-f", "tests.plugin_transformers:Explode"]),
]
spark = SparkSession.getActiveSession()
print(json.dumps({"codes": codes, "rows": spark.read.parquet(sink).count()}))
spark.stop()
"""


def test_cli_row_path_plugin_runs_where_workers_cannot_import_it(tmp_path):
    """A row-path plug-in runs on Python workers that cannot import its
    module: the driver starts outside the repo with the repo on its own
    sys.path only, so ``tests.plugin_transformers`` must travel by value
    inside the UDF (registered with PySpark's cloudpickle)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [
            sys.executable, "-c", _PLUGIN_RELOAD_DRIVER, repo,
            str(tmp_path / "archive.parquet"), str(tmp_path / "dumps"),
            str(tmp_path / "produced"),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    # Explode emits every dumped record twice
    assert result == {"codes": [0, 0, 0], "rows": 120}


def test_load_transformer_rejects_bad_spec():
    import pytest as _pytest

    for bad in ("nomodule", ":NoModule", "no.such.module:Cls"):
        with _pytest.raises((ValueError, ModuleNotFoundError)):
            load_transformer(bad)
    assert load_transformer(None).get_id() == "Identity"


def test_pipeline_output_feeds_dedup_operators(spark, archive, tmp_path):
    """Cross-module composition: records replayed through the pipeline
    (with a duplicating transformer) are exactly de-duplicated by the
    dedup operators — the operators work on pipeline output, not just
    the fixture tables."""
    from kafka_topic_dumper_spark.operators.dedup import exact_dedup

    out = str(tmp_path / "dumps")
    sink_path = str(tmp_path / "replayed")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 90)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, "20260813000003")

    def sink(df):
        df.write.mode("append").parquet(sink_path)

    reload_mod.reload_dump(
        spark,
        out,
        "20260813000003",
        load_transformer("tests.plugin_transformers:Explode"),
        "test",
        lambda: end,
        sink,
    )
    replayed = spark.read.parquet(sink_path)
    assert replayed.count() == 180  # Explode doubles every record

    docs = replayed.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.decode(F.col("value"), "UTF-8").alias("text"),
    )
    groups = exact_dedup(docs)
    # Explode emits (value, value-copy): 90 originals + 90 distinct
    # "-copy" variants → 180 distinct texts, no collapses...
    # unless the transformer duplicated content; assert the exact
    # group structure instead of a blanket count
    assert groups.count() == replayed.select("value").distinct().count()
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == 180


def test_reload_sink_identity_breaks_hot_skip(spark, archive, tmp_path):
    """A matching state record must NOT hot-skip a reload aimed at a
    DIFFERENT destination — the new sink would silently receive
    nothing (code-review r6). Same sink id still skips."""
    out = str(tmp_path / "dumps")
    sink_a = str(tmp_path / "sink_a")
    sink_b = str(tmp_path / "sink_b")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 40)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, "20260814000001", max_records_per_file=20)

    def mk_sink(path):
        def sink(df):
            df.write.mode("append").parquet(path)

        return sink

    r1 = reload_mod.reload_dump(
        spark, out, "20260814000001", Identity(), "test", lambda: end,
        mk_sink(sink_a), sink_id=f"parquet:{sink_a}",
    )
    assert r1["action"] == "reloaded"
    # same dump, same transformer, DIFFERENT sink: must reload
    r2 = reload_mod.reload_dump(
        spark, out, "20260814000001", Identity(), "test", lambda: end,
        mk_sink(sink_b), sink_id=f"parquet:{sink_b}",
    )
    assert r2["action"] == "reloaded"
    # the per-partition tail allocation may round above the request;
    # both sinks must simply receive the identical replay
    assert (
        spark.read.parquet(sink_b).count()
        == spark.read.parquet(sink_a).count()
    )
    # same sink again: hot skip
    r3 = reload_mod.reload_dump(
        spark, out, "20260814000001", Identity(), "test", lambda: end,
        mk_sink(sink_b), sink_id=f"parquet:{sink_b}",
    )
    assert r3["action"] == "hot_reload_skip"


def test_same_second_reloads_keep_latest_deterministic(
    spark, archive, tmp_path, monkeypatch
):
    """Two reloads of the same dump within ONE wall-clock second write
    state records that would tie on the manifest's (dump_date,
    dump_id) argmax — "latest" then falls to unstable file-read order
    and a replay to the SAME sink can miss its hot-skip (observed as
    an intermittent failure of the sink-identity test under load).
    reload_dump must advance the superseding record strictly past the
    current latest so last-write-wins is deterministic. Clock frozen
    to force the tie every run."""
    out = str(tmp_path / "dumps")
    sink_a = str(tmp_path / "sink_a")
    sink_b = str(tmp_path / "sink_b")
    beginning, end = _offsets(spark, archive)
    plan = plan_tail_dump("test", beginning, end, 40)
    records = dump_mod.apply_plan(spark.read.parquet(archive), plan)
    dump_mod.dump_batch(records, out, "20260814000002", max_records_per_file=20)

    frozen = 1_765_000_000
    monkeypatch.setattr(state_mod.time, "time", lambda: frozen)

    def mk_sink(path):
        def sink(df):
            df.write.mode("append").parquet(path)

        return sink

    r1 = reload_mod.reload_dump(
        spark, out, "20260814000002", Identity(), "test", lambda: end,
        mk_sink(sink_a), sink_id=f"parquet:{sink_a}",
    )
    r2 = reload_mod.reload_dump(
        spark, out, "20260814000002", Identity(), "test", lambda: end,
        mk_sink(sink_b), sink_id=f"parquet:{sink_b}",
    )
    assert (r1["action"], r2["action"]) == ("reloaded", "reloaded")
    # the superseding record must sort strictly after the first even
    # though the clock never advanced
    assert r2["state"]["dump_date"] > r1["state"]["dump_date"]
    # and the manifest's latest must therefore be the sink_b record,
    # so the same-sink replay hot-skips deterministically
    state_root = os.path.join(out, "_state")
    latest = state_mod.read_latest_state(spark, state_root)
    assert latest["sink_id"] == f"parquet:{sink_b}"
    r3 = reload_mod.reload_dump(
        spark, out, "20260814000002", Identity(), "test", lambda: end,
        mk_sink(sink_b), sink_id=f"parquet:{sink_b}",
    )
    assert r3["action"] == "hot_reload_skip"


def test_concurrent_writer_tie_breaks_on_sink_id(spark, tmp_path):
    """Two CONCURRENT reload writers both read the same latest and
    both advance dump_date to latest+1, re-tying on (dump_date,
    dump_id) — the records then differ only in sink/transformer
    identity. read_latest_state must break that tie on sink_id (then
    transformer_id) so every reader picks the SAME record and the
    hot-skip predicate is stable, regardless of manifest file-read
    order. Simulated by appending the tied records directly, in both
    orders."""
    frozen = 1_765_000_100
    for order in (("aaa", "zzz"), ("zzz", "aaa")):
        root = str(tmp_path / f"state_{'_'.join(order)}")
        for sink in order:
            rec = state_mod.gen_state(
                "20260814000003", "test", {0: 40}, "identity",
                sink_id=f"parquet:/tmp/{sink}", dump_date=frozen,
            )
            state_mod.save_state(spark, root, rec)
        latest = state_mod.read_latest_state(spark, root)
        # deterministic winner: max sink_id, independent of write order
        assert latest["sink_id"] == "parquet:/tmp/zzz"


def test_read_latest_state_propagates_non_missing_errors(spark, tmp_path):
    """Only 'no manifest yet' maps to None; a malformed state_root that
    raises something else must propagate, not masquerade as a cold
    start and trigger duplicate replay. A corrupt manifest line is an
    error naming its file, not an all-null record."""
    missing = str(tmp_path / "never_written")
    assert state_mod.read_latest_state(spark, missing) is None
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        state_mod.read_latest_state(spark, "nosuchfs://bucket/_state")

    root = tmp_path / "corrupt"
    state_mod.save_state(
        spark, str(root), state_mod.gen_state("d1", "test", {0: 5}, "Identity")
    )
    (root / "part-bad.json").write_text('{"dump_id": "d2", "offsets": \n')
    with pytest.raises(ValueError, match="part-bad.json"):
        state_mod.read_latest_state(spark, str(root))
    # a record that parses as JSON but lacks a required field is as bad
    (root / "part-bad.json").write_text('{"dump_id": "d2"}\n')
    with pytest.raises(ValueError, match="part-bad.json"):
        state_mod.read_latest_state(spark, str(root))


def _dump_tail(spark, archive, out, dump_id, n=40):
    """A committed dump of the archive's tail-n and its end offsets."""
    beginning, end = _offsets(spark, archive)
    records = dump_mod.apply_plan(
        spark.read.parquet(archive), plan_tail_dump("test", beginning, end, n)
    )
    dump_mod.dump_batch(records, out, dump_id, max_records_per_file=20)
    return end


def _parquet_sink(path):
    def sink(df):
        df.write.mode("append").parquet(path)

    return sink


def test_failed_dump_id_can_be_retried(spark, archive, tmp_path):
    """A batch dump whose job fails leaves an uncommitted dump_id=<id>/;
    retrying the SAME id must succeed and become latest, while a
    re-dump over a committed id still refuses to overwrite it."""
    out = str(tmp_path / "dumps")
    beginning, end = _offsets(spark, archive)
    records = dump_mod.apply_plan(
        spark.read.parquet(archive), plan_tail_dump("test", beginning, end, 30)
    )
    dump_mod.dump_batch(records, out, "20260101000000")

    @F.udf("binary")
    def fail(v):
        raise RuntimeError("injected dump failure")

    with pytest.raises(Exception, match="injected dump failure"):
        dump_mod.dump_batch(
            records.withColumn("value", fail("value")), out, "20990101000000"
        )
    failed = os.path.join(out, "dump_id=20990101000000")
    assert os.path.isdir(failed) and not dump_mod.is_committed(*hadoop_fs(spark, failed))

    dump_mod.dump_batch(records, out, "20990101000000")
    assert dump_mod.is_committed(*hadoop_fs(spark, failed))
    assert reload_mod.find_latest_dump_id(spark, out) == "20990101000000"
    assert reload_mod.read_dump(spark, out, "20990101000000").count() == 30

    with pytest.raises(Exception, match="PATH_ALREADY_EXISTS"):
        dump_mod.dump_batch(records, out, "20990101000000")
    assert reload_mod.read_dump(spark, out, "20990101000000").count() == 30


def test_crash_between_sink_and_state_write_redelivers(
    spark, archive, tmp_path, monkeypatch
):
    """The defined outcome of a crash after the sink has produced but
    before the state record is published: the reload raises, the sink
    keeps the rows, the manifest is unchanged, and the next reload is a
    cold one that re-delivers (at-least-once, as in the reference).
    The crashed write's hidden temp file — here holding half a record —
    is never read."""
    out = str(tmp_path / "dumps")
    sink_path = str(tmp_path / "produced")
    state_root = os.path.join(out, "_state")
    end = _dump_tail(spark, archive, out, "20260815000001")
    sink_id = f"parquet:{sink_path}"
    reload_mod.reload_dump(
        spark, out, "20260815000001", Identity(), "test", lambda: end,
        _parquet_sink(sink_path), sink_id=sink_id,
    )
    rows = spark.read.parquet(sink_path).count()
    before = state_mod.read_latest_state(spark, state_root)

    def crashed_write(spark, root, state):
        # the temp file was begun, the process died before the rename
        with open(os.path.join(root, ".part-crashed.json"), "w") as f:
            f.write('{"dump_id": "20260815000002", "topic_na')
        raise OSError("injected crash before the state write")

    # a new transformer misses the hot skip, so this reload runs cold
    explode = load_transformer("tests.plugin_transformers:Explode")
    monkeypatch.setattr(state_mod, "save_state", crashed_write)
    with pytest.raises(OSError, match="injected crash"):
        reload_mod.reload_dump(
            spark, out, "20260815000001", explode, "test", lambda: end,
            _parquet_sink(sink_path), sink_id=sink_id,
        )
    monkeypatch.undo()
    assert spark.read.parquet(sink_path).count() == rows * 3  # +2 per row
    assert state_mod.read_latest_state(spark, state_root) == before

    retry = reload_mod.reload_dump(
        spark, out, "20260815000001", explode, "test", lambda: end,
        _parquet_sink(sink_path), sink_id=sink_id,
    )
    assert retry["action"] == "reloaded"  # re-delivery, not a hot skip
    assert spark.read.parquet(sink_path).count() == rows * 5
    assert state_mod.read_latest_state(spark, state_root) == retry["state"]


def test_cold_reload_snapshots_offsets_once_after_state_check(
    spark, archive, tmp_path, monkeypatch
):
    """The end-offsets callable runs exactly once on a cold reload,
    after the state check and before the sink; a hot skip never
    calls it."""
    out = str(tmp_path / "dumps")
    end = _dump_tail(spark, archive, out, "20260815000003")
    calls = []
    read_state = state_mod.read_latest_state
    monkeypatch.setattr(
        state_mod, "read_latest_state",
        lambda *a: calls.append("state") or read_state(*a),
    )

    def offsets():
        calls.append("offsets")
        return end

    def sink(df):
        calls.append("sink")
        df.write.format("noop").mode("overwrite").save()

    cold = reload_mod.reload_dump(
        spark, out, "20260815000003", Identity(), "test", offsets, sink
    )
    assert cold["action"] == "reloaded"
    assert calls == ["state", "offsets", "sink"]
    calls.clear()
    hot = reload_mod.reload_dump(
        spark, out, "20260815000003", Identity(), "test", offsets, sink
    )
    assert hot["action"] == "hot_reload_skip"
    assert calls == ["state"]


def test_manifest_compatible_with_spark_json_writer(spark, tmp_path):
    """STATE_SCHEMA is the on-disk contract. A manifest written through
    Spark's JSON writer (coalesce(1).write.json, with _SUCCESS and one
    record from before sink_id existed) yields the same latest record
    through the driver-side reader as through a Spark query, and
    records from save_state read back through spark.read.json."""
    old_schema = T.StructType(
        [f for f in state_mod.STATE_SCHEMA.fields if f.name != "sink_id"]
    )
    records = [
        state_mod.gen_state("d1", "test", {0: 5}, "Identity", dump_date=100,
                            sink_id="parquet:/a"),
        state_mod.gen_state("d2", "test", {0: 9, 1: 3}, "Explode", dump_date=300,
                            sink_id="parquet:/b"),
        state_mod.gen_state("d2", "test", {0: 9, 1: 4}, "Identity", dump_date=300,
                            sink_id="parquet:/b"),
    ]
    pre_sink = {k: v for k, v in records[0].items() if k != "sink_id"}
    pre_sink.update(dump_id="d2", dump_date=300, transformer_id="Zeta")
    root = str(tmp_path / "spark_written")
    for rows, schema in ((records, state_mod.STATE_SCHEMA), ([pre_sink], old_schema)):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "append"
        ).json(root)
    assert os.path.exists(os.path.join(root, "_SUCCESS"))

    def spark_latest(path):
        row = (
            spark.read.schema(state_mod.STATE_SCHEMA).json(path)
            .orderBy(
                F.col("dump_date").desc(),
                F.col("dump_id").desc(),
                F.col("sink_id").desc_nulls_last(),
                F.col("transformer_id").desc_nulls_last(),
            )
            .first()
        )
        return row.asDict(recursive=True)

    latest = state_mod.read_latest_state(spark, root)
    assert latest == spark_latest(root)
    # the sink_id tie is broken before the transformer; the pre-sink_id
    # record (null sink) loses it despite its larger transformer id
    assert (latest["transformer_id"], latest["offsets"]) == ("Identity", {"0": 9, "1": 4})

    # records from save_state, in a directory shared with Spark's files
    for rec in records:
        state_mod.save_state(spark, root, {**rec, "dump_date": rec["dump_date"] + 1})
    latest = state_mod.read_latest_state(spark, root)
    assert latest == spark_latest(root)
    assert latest["dump_date"] == 301

    # and Spark's reader gives back exactly what save_state wrote
    fresh = str(tmp_path / "driver_written")
    for rec in records:
        state_mod.save_state(spark, fresh, rec)
    back = spark.read.schema(state_mod.STATE_SCHEMA).json(fresh).collect()

    def order(r):
        return (r["dump_date"], r["transformer_id"])

    assert sorted((r.asDict(recursive=True) for r in back), key=order) == sorted(
        records, key=order
    )


def test_cli_hot_skip_runs_no_spark_job(spark, tmp_path):
    """A hot-skip CLI reload is metadata-only: no archive scan, no
    manifest job — the job group it runs under stays empty, while the
    cold reload before it does start jobs. A hot skip no longer needs
    the archive at all; a cold reload of a topic the archive lacks
    still exits 2 before producing anything."""
    from kafka_topic_dumper_spark import cli

    archive = str(tmp_path / "archive.parquet")
    dumps = str(tmp_path / "dumps")
    sink = str(tmp_path / "produced")
    base = ["--records-parquet", archive, "-t", "test", "--output", dumps]
    assert cli.main(["generate", *base[:4], "-n", "120", "--partitions", "3"]) == 0
    assert cli.main(["dump", *base, "-n", "60", "-p", "20260816000001"]) == 0

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_under(group, argv):
        sc.setJobGroup(group, f"cli {group}")
        try:
            assert cli.main(argv) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return tracker.getJobIdsForGroup(group)

    reload_args = ["reload", *base, "--reload-output", sink]
    assert jobs_under("cold", reload_args)
    assert jobs_under("hot", reload_args) == []
    assert spark.read.parquet(sink).count() == 60

    gone = ["reload", "--records-parquet", str(tmp_path / "no_archive"),
            "-t", "test", "--output", dumps, "--reload-output", sink]
    assert cli.main(gone) == 0
    assert spark.read.parquet(sink).count() == 60

    state_root = os.path.join(dumps, "_state")
    before = state_mod.read_latest_state(spark, state_root)
    other = ["reload", *base[:2], "-t", "nosuch", "--output", dumps,
             "--reload-output", sink]
    assert cli.main(other) == 2
    assert spark.read.parquet(sink).count() == 60
    assert state_mod.read_latest_state(spark, state_root) == before

    # no committed dump to reload: a missing root and an empty one
    # both refuse with exit 2 before anything is produced
    empty = tmp_path / "empty"
    empty.mkdir()
    for root in (empty, tmp_path / "missing"):
        assert cli.main(["reload", *base[:4], "--output", str(root),
                         "--reload-output", sink]) == 2
    assert spark.read.parquet(sink).count() == 60
