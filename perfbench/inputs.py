"""Seeded input generators.  The program only ever sees the files these
write; the same seed always gives the same inputs.

Every generator is plain numpy + pyarrow, so input generation costs the
same on every commit of the program.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "bench"
ARCHIVE_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
        ("key", pa.binary()),
        ("value", pa.binary()),
    ]
)
ARCHIVE_DDL = (
    "topic string, partition int, offset bigint, timestamp timestamp, "
    "key binary, value binary"
)


def _binary(lengths: np.ndarray, body: bytes) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(lengths), [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(body)]
    )


def _payload(rng: np.random.Generator, lengths: np.ndarray) -> bytes:
    # lowercase text with spaces: compresses like log lines, not like noise
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    return alphabet[rng.integers(0, len(alphabet), int(lengths.sum()))].tobytes()


def _keys(rng: np.random.Generator, n: int, null_share: float) -> pa.Array:
    ids = rng.zipf(1.3, n) % 50_000
    nulls = rng.random(n) < null_share
    return pa.array(
        [None if z else b"user-%05d" % k for k, z in zip(ids.tolist(), nulls.tolist())],
        pa.binary(),
    )


def write_archive(
    path: str,
    seed: int,
    n_messages: int,
    partitions: int = 8,
    skew: float = 1.0,
    value_bytes: tuple[int, int] = (40, 400),
    null_key_share: float = 0.1,
    files: int = 4,
) -> tuple[dict[int, int], pa.Table]:
    """A Kafka-source-schema topic archive.  Partition p receives a
    share of messages proportional to ``1 / (p + 1) ** skew``; value
    lengths are log-uniform over ``value_bytes``.  Returns the exclusive
    end offset of every partition (beginnings are all 0) and the table."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, partitions + 1) ** skew
    part = rng.choice(partitions, n_messages, p=weights / weights.sum()).astype(np.int32)
    offset = np.empty(n_messages, np.int64)
    ends = {}
    for p in range(partitions):
        mask = part == p
        offset[mask] = np.arange(mask.sum())
        ends[p] = int(mask.sum())
    lo, hi = np.log(value_bytes[0]), np.log(value_bytes[1])
    lengths = np.exp(rng.uniform(lo, hi, n_messages)).astype(np.int64)
    table = pa.table(
        [
            pa.array([TOPIC] * n_messages, pa.string()),
            pa.array(part),
            pa.array(offset),
            pa.array(np.arange(n_messages, dtype="int64") + 1_700_000_000_000_000, pa.timestamp("us")),
            _keys(rng, n_messages, null_key_share),
            _binary(lengths, _payload(rng, lengths)),
        ],
        schema=ARCHIVE_SCHEMA,
    )
    os.makedirs(path, exist_ok=True)
    step = -(-n_messages // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    return ends, table


def tail_rows(table: pa.Table, ends: dict[int, int], n: int) -> pa.Table:
    """The rows of the reference's tail-N plan, re-derived here so the
    dump can be checked against it: per partition, offsets from
    ``max(0, end - ceil(n / partitions))`` on."""
    disp = -(-n // len(ends))
    start = np.array([max(0, ends[p] - disp) for p in range(len(ends))])
    part = table["partition"].to_numpy()
    return table.filter(table["offset"].to_numpy() >= start[part])


def kv_digest(table: pa.Table) -> tuple[int, int, int, int]:
    """Order-free multiset digest of (key, value): rows, non-null keys,
    the sum of CRC-32(key || 0x00 || value) with a null key as empty,
    and the summed value length.  dump_reload.SPARK_DIGEST computes the
    same on Spark."""
    keys, values = table["key"].to_pylist(), table["value"].to_pylist()
    crc = sum(zlib.crc32((k or b"") + b"\0" + v) for k, v in zip(keys, values))
    return len(values), sum(k is not None for k in keys), crc, sum(len(v) for v in values)


def write_stream_file(directory: str, index: int, rows: int, seed: int, partitions: int = 4) -> None:
    """One increment of the streaming archive: 10% null keys, values of
    20-200 bytes, each starting with ``<file index>:<row index>:`` so a
    sink row maps back to the file that carried it."""
    rng = np.random.default_rng([seed, index])
    stamps = [b"%06d:%05d:" % (index, r) for r in range(rows)]
    lengths = np.exp(rng.uniform(np.log(20), np.log(200), rows)).astype(np.int64)
    body = _payload(rng, lengths)
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    values = [s + body[a:b] for s, a, b in zip(stamps, cuts[:-1].tolist(), cuts[1:].tolist())]
    table = pa.table(
        [
            pa.array([TOPIC] * rows, pa.string()),
            pa.array((np.arange(rows) % partitions).astype(np.int32)),
            pa.array(np.arange(rows, dtype=np.int64) // partitions + index * rows),
            pa.array(np.full(rows, 1_700_000_000_000_000, "int64"), pa.timestamp("us")),
            _keys(rng, rows, 0.1),
            pa.array(values, pa.binary()),
        ],
        schema=ARCHIVE_SCHEMA,
    )
    pq.write_table(table, os.path.join(directory, f"part-{index:06d}.parquet"))
