"""dump_reload: the paper's core path in bulk, driven through ``cli.main``.

Closed loop with a single caller.  One cycle is ``dump --records-parquet``
(tail-N of a skewed archive), then a cold ``reload`` (Identity
transformer, parquet sink), then HOT_SKIPS repeat ``reload`` calls that
must take the hot skip.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import host
import inputs
import tracing

ARCHIVE_MESSAGES = 250_000
TAIL_N = 160_000
PARTITIONS = 8
ROWS_PER_FILE = 50_000
HOT_SKIPS = 4
# the JIT is still compiling for the first cycles after the cold one
WARMUP_CYCLES = 2
MIN_CYCLES = 5
SPARK_DIGEST = ["count(1)", "count(key)", "sum(crc32(concat(coalesce(key, X''), X'00', value)))",
                "sum(length(value))"]


def digest(spark, path: str) -> tuple:
    """inputs.kv_digest of the (key, value) rows under ``path``."""
    return tuple(spark.read.parquet(path).selectExpr(*SPARK_DIGEST).first())


def timed_cli(args: list[str]) -> tuple[float, dict, int]:
    """(wall seconds, CPU seconds per process role, exit code)."""
    from kafka_topic_dumper_spark import cli

    c0, t0 = host.cpu_split(), time.perf_counter()
    rc = cli.main(args)
    wall = time.perf_counter() - t0
    c1 = host.cpu_split()
    return wall, {k: c1[k] - c0[k] for k in c0}, rc


class Workload:
    def __init__(self, work: str, seed: int, seconds: float, log):
        self.work, self.seed, self.seconds, self.log = work, seed, seconds, log
        self.archive = os.path.join(work, "archive")
        self.root = os.path.join(work, "dumps")
        self.cycles_run = 0

    def generate(self) -> None:
        shutil.rmtree(self.archive, ignore_errors=True)
        ends, table = inputs.write_archive(
            self.archive, self.seed, ARCHIVE_MESSAGES, partitions=PARTITIONS, skew=1.0,
            value_bytes=(20, 200), null_key_share=0.1,
        )
        self.expected = inputs.kv_digest(inputs.tail_rows(table, ends, TAIL_N))
        self.rows = self.expected[0]

    def cold_probe(self, spark) -> None:
        """Nothing: the first cycle of measure() is the cold measurement."""

    def measure(self, spark, cold: bool, tracer=None) -> dict:
        """The cold cycle and WARMUP_CYCLES discarded cycles (if ``cold``;
        else one discarded cycle), then warm cycles for ``seconds`` (at
        least MIN_CYCLES, or 3 when traced)."""
        first = self._cycle(spark, tracer) if cold else None
        # without the cold cycle the JVM has run this path already, and
        # one cycle warms the new session
        warmup = [self._cycle(spark, tracer) for _ in range(WARMUP_CYCLES if cold else 1)]
        warm = []
        end = time.perf_counter() + self.seconds
        # traced cycles only feed per-layer medians; fewer keep a traced
        # run well inside its time limit
        min_cycles = MIN_CYCLES if tracer is None else 3
        while time.perf_counter() < end or len(warm) < min_cycles:
            warm.append(self._cycle(spark, tracer))
        ran = [c for c in (first, *warmup, *warm) if c is not None]
        hot = [h for c in warm for h in c["hot_ms"]]
        out = {
            "cold_s": first["wall"] if first else None,
            "cycle_s_p50": statistics.median(c["wall"] for c in warm),
            "cpu_ms_per_krow": statistics.median(c["cpu"] / self.rows * 1e6 for c in warm),
            "attempted": sum(c["ops"] for c in ran),
            "failed": sum(c["ops"] for c in ran if c["problems"]),
            "problems": [p for c in ran for p in c["problems"]],
            "op": {
                "op.dump_rows_per_s": self.rows / statistics.median(c["dump_s"] for c in warm),
                "op.reload_rows_per_s": self.rows / statistics.median(c["reload_s"] for c in warm),
                "op.hot_skip_ms_p50": statistics.median(hot),
                "op.samples": len(hot),
            },
        }
        if tracer:
            out["units"] = [c["unit"] for c in warm]
        return out

    def _cycle(self, spark, tracer) -> dict:
        i = self.cycles_run
        self.cycles_run += 1
        if tracer is None:
            return self.cycle(spark, i)
        with tracer.span("cycle", index=i) as span:
            c = self.cycle(spark, i)
        # now, while the cycle's dump still exists
        c["unit"] = {"epoch": c["epoch"], "per": 1, "layers": self.layers(spark, tracer, span, c)}
        return c

    def cycle(self, spark, i: int) -> dict:
        dump_id = f"c{i:05d}"
        sink = os.path.join(self.work, f"sink-{i:05d}")
        base = ["--records-parquet", self.archive, "-t", inputs.TOPIC, "--output", self.root]
        reload_args = ["reload", *base, "--reload-output", sink]
        self.log.clear()
        t0 = time.time()
        calls = [timed_cli(["dump", *base, "-n", str(TAIL_N), "-m", str(ROWS_PER_FILE), "-p", dump_id])]
        calls += [timed_cli(reload_args) for _ in range(1 + HOT_SKIPS)]
        t1 = time.time()
        walls, cpus, codes = zip(*calls)

        # checks, outside the timed calls
        planned = self.log.args("dump %s: %d messages planned (requested %d)")
        actions = [a[0] for a in self.log.all_args("reload result: %s")]
        dump_path = os.path.join(self.root, f"dump_id={dump_id}")
        dumped, sunk = digest(spark, dump_path), digest(spark, sink)
        problems = []
        if any(codes):
            problems.append(f"exit codes {codes}")
        if planned is None or planned[1] != self.rows:
            problems.append(f"planned {planned}, expected {self.rows} rows")
        if dumped != self.expected:
            problems.append(f"dump digest {dumped} != {self.expected}")
        if sunk != self.expected:
            problems.append(f"sink digest {sunk} != {self.expected} after the hot skips")
        if actions != ["reloaded"] + ["hot_reload_skip"] * HOT_SKIPS:
            problems.append(f"reload actions {actions}")
        files, size = host.tree_size(dump_path)
        # the previous cycle's dump and sink are never read again
        if i:
            shutil.rmtree(os.path.join(self.root, f"dump_id=c{i - 1:05d}"), ignore_errors=True)
            shutil.rmtree(os.path.join(self.work, f"sink-{i - 1:05d}"), ignore_errors=True)
        return {
            "wall": sum(walls),
            "cpu": sum(sum(c.values()) for c in cpus),
            "split": {k: sum(c[k] for c in cpus) for k in cpus[0]},
            "ops": len(calls),
            "problems": [f"cycle {i}: {p}" for p in problems],
            "epoch": (t0, t1),
            "dump_s": walls[0],
            "reload_s": walls[1],
            "hot_ms": [w * 1e3 for w in walls[2:]],
            "dump_id": dump_id,
            "dump_files": files,
            "dump_bytes": size,
            "sunk_rows": sunk[0],
        }

    def layers(self, spark, tracer, span: dict, c: dict) -> dict:
        """Per-layer figures of one traced cycle."""
        from kafka_topic_dumper_spark.streaming import reload as reload_mod
        from kafka_topic_dumper_spark.transform import Identity

        spans = tracing.subtree(tracer.spans, span["id"])
        calls = [s for s in spans if s["name"] == "cli.main" and s["parent"] == span["id"]]
        # the archive read, offsets scan and plan are direct children
        in_dump = [s for s in spans if s["parent"] == calls[0]["id"]]
        in_reloads = [s for s in spans if s["parent"] in {call["id"] for call in calls[1:]}]
        # read_dump, then read_dump + transformer, each forced to the noop
        # sink after the cycle: the scan and the transformer apart
        records = reload_mod.read_dump(spark, self.root, c["dump_id"])
        t0 = time.perf_counter()
        records.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        reload_mod.apply_transformer(records, Identity()).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        state_dir = os.path.join(self.root, "_state")
        state_records = 0
        for name in os.listdir(state_dir):
            if name.endswith(".json"):
                with open(os.path.join(state_dir, name)) as f:
                    state_records += sum(1 for line in f if line.strip())
        return {
            **{f"cpu.{role}_s": v for role, v in c["split"].items()},
            "dump.plan_s": sum(tracing.total(in_dump, n) for n in ("read.parquet", "offsets.scan", "offsets.plan")),
            "reload.offsets_s": sum(tracing.total(in_reloads, n) for n in ("read.parquet", "offsets.scan")),
            "dump.write_s": tracing.total(spans, "dump.write"),
            "dump.files": c["dump_files"],
            "dump.bytes_out": c["dump_bytes"],
            "reload.discover_ms": tracing.total(spans, "reload.discover") * 1e3,
            "reload.scan_s": t1 - t0,
            "reload.sink_s": tracing.total(spans, "reload.sink"),
            "transform.s": (t2 - t1) - (t1 - t0),
            "transform.rows_in": self.rows,
            "transform.rows_out": c["sunk_rows"],
            "state.read_ms": tracing.total(spans, "state.read") * 1e3,
            "state.write_ms": tracing.total(spans, "state.write") * 1e3,
            "state.records": state_records,
            "plan.build_s": tracing.total(spans, "plan.build"),
            "trace.unattributed_pct": tracing.uncovered(spans, span["id"], "cli.main") / c["wall"] * 100,
        }
