"""Dump-state manifest — the engine's idempotency / "hot reload" record.

Reference behavior being re-expressed (SURVEY §2 S8/K4/P3/A2/B3):

- state record schema (kafka_client.py:312-317): ``{dump_id,
  topic_name, offsets: partition→end-offset, dump_date: unix seconds,
  transformer_id}``; JSON-encoded (kafka_client.py:325) onto a side
  Kafka topic (kafka_client.py:47) with a blocking single write
  (kafka_client.py:321-327).
- latest state = argmax by dump_date (kafka_client.py:343-344).
- hot-reload predicate: state exists ∧ topic ∧ dump_id ∧ transformer_id
  all match (kafka_client.py:349-358) ⇒ skip all data movement.

Here the manifest is a JSON-lines directory next to the dump data,
kept with driver-side Hadoop FileSystem calls (file://, hdfs:// and
s3a:// alike) and no Spark job: like Structured Streaming's file-sink
log (SIGMOD'18), each record is written to a hidden temp file and
published by a rename (atomic on HDFS and local disks; on S3A a copy of
one whole object), so a reader never sees half a record.
``offsets`` is declared ``MapType(StringType, LongType)`` — fixing the
reference's int→str key asymmetry (kafka_client.py:310,366) by always
using string keys on disk and int keys in memory
(plans.offsets.offsets_from_json). :data:`STATE_SCHEMA` is the on-disk
contract: ``spark.read.schema(STATE_SCHEMA).json(root)`` reads the
manifest too, and files Spark's JSON writer left there read back here.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from kafka_topic_dumper_spark.session import hadoop_fs

STATE_SCHEMA = T.StructType(
    [
        T.StructField("dump_id", T.StringType(), False),
        T.StructField("topic_name", T.StringType(), False),
        T.StructField("offsets", T.MapType(T.StringType(), T.LongType()), False),
        T.StructField("dump_date", T.LongType(), False),
        T.StructField("transformer_id", T.StringType(), False),
        # sink identity (upgrade over the reference, whose sink is the
        # one fixed topic at kafka_client.py:47): without it, reloading
        # the same dump to a DIFFERENT destination hot-skips and the
        # new target silently receives nothing. Nullable so manifests
        # written before round 6 still parse (missing -> null -> "").
        T.StructField("sink_id", T.StringType(), True),
    ]
)


def gen_state(
    dump_id: str,
    topic_name: str,
    end_offsets: dict[int, int],
    transformer_id: str,
    dump_date: int | None = None,
    sink_id: str = "",
) -> dict:
    """Build a state record. Like the reference's ``_gen_state``
    (kafka_client.py:300-319) this snapshots the CURRENT end offsets
    BEFORE any data is re-produced, so a later hot reload seeks past
    everything this reload wrote."""
    return {
        "dump_id": dump_id,
        "topic_name": topic_name,
        "offsets": {str(p): int(o) for p, o in end_offsets.items()},
        "dump_date": int(time.time()) if dump_date is None else int(dump_date),
        "transformer_id": transformer_id,
        "sink_id": sink_id,
    }


def save_state(spark: SparkSession, state_root: str, state: dict) -> None:
    """Append one state record to the manifest: one JSON line in a
    hidden ``.part-<dump_date>-<uuid>.json``, then renamed to its
    visible name — the analogue of the reference's blocking single
    produce (kafka_client.py:321-327). Readers skip hidden names, so a
    crash before the rename leaves the manifest unchanged. A failed
    rename raises."""
    fs, root = hadoop_fs(spark, state_root)
    name = f"part-{int(state['dump_date']):020d}-{uuid.uuid4().hex}.json"
    tmp, final = root.suffix(f"/.{name}"), root.suffix(f"/{name}")
    record = {f.name: state.get(f.name) for f in STATE_SCHEMA.fields}
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps(record).encode() + b"\n"))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish state record {tmp} as {final}")


def _parse_line(line: str, source) -> dict:
    """One manifest line as a record with every STATE_SCHEMA field
    (an absent nullable field reads as None, as Spark's reader gives
    it). A line that is not a whole record raises ValueError naming
    its file: a corrupt manifest must stop the reload, not read as
    "no state" and trigger a duplicate replay."""
    try:
        rec = json.loads(line)
        out = {f.name: rec.get(f.name) for f in STATE_SCHEMA.fields}
        if any(out[f.name] is None for f in STATE_SCHEMA.fields if not f.nullable):
            raise ValueError("missing a required field")
        out["offsets"] = {str(p): int(o) for p, o in out["offsets"].items()}
        out["dump_date"] = int(out["dump_date"])
    except (ValueError, TypeError, AttributeError) as exc:
        raise ValueError(f"corrupt state record in {source}: {line!r}") from exc
    return out


def read_latest_state(spark: SparkSession, state_root: str) -> dict | None:
    """Latest state record: argmax by (dump_date, dump_id) — reference
    A2 (kafka_client.py:343-344) with a deterministic tie-break the
    reference lacks. Returns None when no manifest exists yet. Lists
    and reads the manifest's files on the driver; names starting with
    ``_`` or ``.`` (``_SUCCESS``, checksums, unpublished temp files)
    are skipped, as Spark's own reader skips them.

    ``sink_id`` / ``transformer_id`` close the CONCURRENT-writer tie:
    reload_dump advances a superseding record's dump_date strictly
    past the current latest, which serialises same-second SERIAL
    reloads, but two writers that read the same latest both bump to
    latest+1 and re-tie on (dump_date, dump_id). Those records can
    only differ in sink/transformer identity, so ordering on them
    (descending, nulls last) keeps the argmax deterministic (which
    record "wins" under true concurrency is inherently arbitrary — the
    guarantee here is that every reader picks the SAME one, so the
    hot-skip predicate is stable). Last-write-wins semantics proper
    still assume one writer per manifest at a time, as with the
    reference's state topic."""
    fs, root = hadoop_fs(spark, state_root)
    # ONLY the no-manifest-yet case maps to None. A transient
    # storage/credential error must propagate: swallowing it made
    # state_matches() return False and the caller re-produce the
    # whole dump — the duplicate delivery the manifest exists to
    # prevent (code-review r6).
    if not fs.exists(root):
        return None
    records = []
    for st in fs.listStatus(root):
        path = st.getPath()
        if path.getName().startswith(("_", ".")) or not st.isFile():
            continue
        stream = fs.open(path)
        try:
            text = stream.readAllBytes().decode()
        finally:
            stream.close()
        records += [_parse_line(line, path) for line in text.splitlines() if line.strip()]
    if not records:
        return None

    def rank(r: dict) -> tuple:
        return (
            r["dump_date"],
            r["dump_id"],
            r["sink_id"] is not None,
            r["sink_id"] or "",
            r["transformer_id"],
        )

    return max(records, key=rank)


def state_matches(
    state: dict | None,
    topic_name: str,
    dump_id: str,
    transformer_id: str,
    sink_id: str = "",
) -> bool:
    """The hot-reload predicate P3 (kafka_client.py:349-358): a 4-way
    conjunction — state exists and topic/dump/transformer all equal —
    extended with sink identity (see STATE_SCHEMA) so a replay to a
    NEW destination is never skipped on the strength of an old one."""
    return (
        state is not None
        and state.get("topic_name") == topic_name
        and state.get("dump_id") == dump_id
        and state.get("transformer_id") == transformer_id
        and (state.get("sink_id") or "") == (sink_id or "")
    )
