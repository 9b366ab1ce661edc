"""stream_replay: open loop.  One generator thread appends Kafka-schema
archive files at a fixed rate, below the chain's capacity; the chain is
``dump_stream(available_now=False)`` -> ``reload_stream(available_now=False)``
-> parquet sink.  Every value carries its file's index, so each sink row
maps back to the time its file was due.

A row's replay latency runs from the time its file was due to the mtime
of the first sink commit-log entry that lists a file holding the row.
Rows of one file usually share a commit, so the files, not the rows, are
the independent samples.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from urllib.parse import urlparse

import host
import inputs
import numpy as np
import pyarrow.parquet as pq
import tracing

FILES_PER_S = 1
ROWS_PER_FILE = 5_000
WARMUP_S = 5.0
DRAIN_DEADLINE_S = 30.0
DUMP_ID = "stream"
STAGE_NAMES = {"latestOffset": "latest_offset", "queryPlanning": "planning", "addBatch": "add_batch",
               "walCommit": "wal_commit", "commitOffsets": "commit", "triggerExecution": "trigger"}


class Chain:
    """One run of the chain in its own directories."""

    def __init__(self, spark, work: str, staged: str, n_files: int):
        self.spark, self.staged = spark, staged
        self.dirs = {k: os.path.join(work, k) for k in ("incoming", "dumps", "ckpt-dump", "ckpt-reload", "sink")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        os.makedirs(os.path.join(self.dirs["dumps"], f"dump_id={DUMP_ID}"), exist_ok=True)
        self.n_files = n_files
        self.due = np.zeros(self.n_files)
        self.written = np.zeros(self.n_files)
        # per row: mtime (epoch s) of the first sink commit listing it
        self.commit = np.full((self.n_files, ROWS_PER_FILE), np.nan)
        self.seen = np.zeros((self.n_files, ROWS_PER_FILE), np.int32)
        self.stray = 0
        self._paths: set[str] = set()
        self._logs: set[str] = set()

    def start(self):
        from kafka_topic_dumper_spark.streaming import dump as dump_mod
        from kafka_topic_dumper_spark.streaming import reload as reload_mod
        from kafka_topic_dumper_spark.transform import Identity

        d = self.dirs
        records = self.spark.readStream.schema(inputs.ARCHIVE_DDL).parquet(d["incoming"])
        # file 0 is in place when the queries start, so the first dump
        # trigger always holds it and cold_s does not depend on a race
        self._link(0)
        self.t0 = self.due[0] = self.written[0] = time.time()
        self.q_dump = dump_mod.dump_stream(
            records, d["dumps"], d["ckpt-dump"], max_records_per_file=ROWS_PER_FILE,
            available_now=False, dump_id=DUMP_ID,
        )
        self.q_reload = reload_mod.reload_stream(
            self.spark, d["dumps"], DUMP_ID, Identity(), d["ckpt-reload"], d["sink"], available_now=False
        )
        self.gen = threading.Thread(target=self._generate, daemon=True)
        self.gen.start()

    def _link(self, i: int) -> None:
        # link under a dot-name, then rename: the file source never lists
        # a file before it is whole
        name = f"part-{i:06d}.parquet"
        tmp = os.path.join(self.dirs["incoming"], "." + name)
        os.link(os.path.join(self.staged, name), tmp)
        os.rename(tmp, os.path.join(self.dirs["incoming"], name))

    def _generate(self):
        for i in range(1, self.n_files):
            self.due[i] = self.t0 + i / FILES_PER_S
            delay = self.due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            self._link(i)
            self.written[i] = time.time()

    def poll(self) -> None:
        """Read sink commit-log entries not read yet."""
        meta = os.path.join(self.dirs["sink"], "_spark_metadata")
        if not os.path.isdir(meta):
            return
        names = sorted((n for n in os.listdir(meta) if not n.startswith(".") and n not in self._logs),
                       key=lambda n: int(n.split(".")[0]))
        for name in names:
            path = os.path.join(meta, name)
            committed = os.stat(path).st_mtime_ns / 1e9
            with open(path) as f:
                lines = f.read().splitlines()[1:]
            self._logs.add(name)
            for line in lines:
                entry = json.loads(line)
                if entry.get("action", "add") != "add" or entry["path"] in self._paths:
                    continue
                self._paths.add(entry["path"])
                values = pq.read_table(urlparse(entry["path"]).path, columns=["value"])["value"].to_pylist()
                f_idx = np.array([int(v[:6]) for v in values], dtype=np.int64)
                r_idx = np.array([int(v[7:12]) for v in values], dtype=np.int64)
                ok = (f_idx < self.n_files) & (r_idx < ROWS_PER_FILE)
                self.stray += int((~ok).sum())
                f_idx, r_idx = f_idx[ok], r_idx[ok]
                np.add.at(self.seen, (f_idx, r_idx), 1)
                self.commit[f_idx, r_idx] = np.fmin(self.commit[f_idx, r_idx], committed)

    def run(self) -> None:
        """Generate every file, then drain until all rows have been
        committed or the deadline passes."""
        while self.gen.is_alive():
            self.poll()
            time.sleep(0.05)
        self.gen.join()
        deadline = time.time() + DRAIN_DEADLINE_S
        while time.time() < deadline and not self.complete():
            self.poll()
            time.sleep(0.05)

    def complete(self) -> bool:
        return bool((self.seen >= 1).all())

    def stop(self) -> None:
        for q in (self.q_dump, self.q_reload):
            q.stop()
        self.poll()


def _p(values, q):
    """q-th percentile of the finite values (0 when there are none; a row
    never committed is already counted as a failure)."""
    values = np.asarray(values, dtype=float)
    values = values[np.isfinite(values)]
    return float(np.percentile(values, q)) if len(values) else 0.0


class Workload:
    def __init__(self, work: str, seed: int, seconds: float, log):
        self.work, self.seed = work, seed
        self.staged = os.path.join(work, "staged")
        self.n_files = int((WARMUP_S + seconds) * FILES_PER_S)
        self.chains = 0
        self.starts: list[float] = []  # cold_probe results
        self.probe_problems: list[str] = []

    def generate(self) -> None:
        """Every file of a chain, written up front; the generator thread
        only links each one into the watched directory when it is due."""
        os.makedirs(self.staged, exist_ok=True)
        for i in range(self.n_files):
            inputs.write_stream_file(self.staged, i, ROWS_PER_FILE, self.seed)

    def _chain(self, spark, n_files: int) -> Chain:
        self.chains += 1
        return Chain(spark, os.path.join(self.work, f"chain-{self.chains}"), self.staged, n_files)

    def cold_probe(self, spark) -> None:
        """Start a chain in this fresh session, wait until every row of
        file 0 is committed, and stop it.  A chain start is a single
        event, so cold_s is the median over the set-ups' fresh sessions
        (the first, in a new JVM, is left out)."""
        chain = self._chain(spark, 1)
        chain.start()
        deadline = time.time() + DRAIN_DEADLINE_S
        while time.time() < deadline and not chain.complete():
            chain.poll()
            time.sleep(0.02)
        chain.stop()
        if not ((chain.seen == 1).all() and chain.stray == 0):
            self.probe_problems.append(f"cold probe {len(self.starts)}: file 0 not delivered exactly once")
        self.starts.append(float(np.nanmax(chain.commit[0]) - chain.t0) if chain.complete() else 0.0)

    def measure(self, spark, cold: bool, tracer=None) -> dict:
        """One chain: WARMUP_S of files, then the measured files, then the
        drain.  ``cold`` adds the cold probes' figures."""
        self.progress: list = []
        if tracer:
            tracing.progress_listener(spark, self.progress)
        self.chain = chain = self._chain(spark, self.n_files)
        chain.start()
        while time.time() < chain.t0 + WARMUP_S:
            chain.poll()
            time.sleep(0.05)
        e0, c0 = time.time(), host.cpu_split()
        chain.run()
        e1, c1 = time.time(), host.cpu_split()
        chain.stop()
        self.window = (e0, e1)
        m = list(range(int(WARMUP_S * FILES_PER_S), chain.n_files))
        lat = (chain.commit[m] - chain.due[m, None]).ravel()
        exact = (chain.seen == 1).all(axis=1)
        problems = [f"file {f}: rows seen {sorted(set(chain.seen[f].tolist()))} times, not once"
                    for f in np.flatnonzero(~exact)[:5]]
        if chain.stray:
            problems.append(f"{chain.stray} sink rows belong to no generated file")
        split = {k: c1[k] - c0[k] for k in c0}
        rows = len(m) * ROWS_PER_FILE
        self.late_ms = (chain.written[m] - chain.due[m]) * 1e3
        self.query_ids = {"dump": str(chain.q_dump.id), "reload": str(chain.q_reload.id)}
        failed = min(chain.n_files, int((~exact).sum()) + (1 if chain.stray else 0))
        if cold:
            problems += self.probe_problems
        out = {
            "cold_s": statistics.median(self.starts[1:]) if cold else None,
            "cycle_s_p50": _p(lat, 50),
            "cpu_ms_per_krow": sum(split.values()) / rows * 1e6,
            "attempted": chain.n_files + (len(self.starts) if cold else 0),
            "failed": failed + (len(self.probe_problems) if cold else 0),
            "problems": problems,
            "op": {"op.replay_ms_p50": _p(lat, 50) * 1e3, "op.replay_ms_p90": _p(lat, 90) * 1e3,
                   "op.samples": len(lat)},
            "units": [{"epoch": (e0, e1), "per": len(m), "layers": {f"cpu.{k}_s": v for k, v in split.items()}}],
        }
        if tracer:
            out["layers"] = self._layers(out)
        return out

    def _layers(self, phase: dict) -> dict:
        """Streaming-engine figures of the traced chain."""
        chain = self.chain
        reload_rows = 0
        deadline = time.time() + 5  # progress events arrive asynchronously
        while time.time() < deadline and reload_rows < chain.seen.sum():
            time.sleep(0.1)
            reload_rows = sum(p["rows"] for i, p in self.progress if i == self.query_ids["reload"])
        out = {"transform.rows_in": reload_rows, "transform.rows_out": int(chain.seen.sum())}
        e0, e1 = self.window
        for q, qid in self.query_ids.items():
            batches = [p for i, p in self.progress if i == qid and p["rows"] > 0 and e0 <= p["at"] <= e1]
            out[f"stream.{q}.batches"] = len(batches)
            out[f"stream.{q}.rows_per_batch_p50"] = _p([b["rows"] for b in batches], 50)
            for key, name in STAGE_NAMES.items():
                vals = [b["durations"].get(key, 0) for b in batches]
                out[f"stream.{q}.{name}_ms_p50"] = _p(vals, 50)
            out[f"stream.{q}.trigger_ms_p90"] = _p([b["durations"].get("triggerExecution", 0) for b in batches], 90)
        # a row waits for these stages of both queries before the reload's
        # sink commit (inside addBatch); commitOffsets comes after it
        blocking = sum(out[f"stream.{q}.{k}_ms_p50"] for q in self.query_ids
                       for k in ("latest_offset", "planning", "wal_commit", "add_batch"))
        replay_ms = phase["op"]["op.replay_ms_p50"]
        out["trace.unattributed_pct"] = (replay_ms - blocking) / replay_ms * 100
        out["dump.files"], out["dump.bytes_out"] = host.tree_size(chain.dirs["dumps"])
        out["stream.sink_log_files"] = len(os.listdir(os.path.join(chain.dirs["sink"], "_spark_metadata")))
        out["stream.checkpoint_bytes"] = sum(host.tree_size(chain.dirs[k])[1] for k in ("ckpt-dump", "ckpt-reload"))
        out["gen.late_ms_p90"] = _p(self.late_ms, 90)
        return out
