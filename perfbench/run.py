"""Benchmark of the kafka_topic_dumper_spark product paths.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (BENCHMARK.json says why
each was chosen): ``dump_reload`` (closed loop, dump_reload.py) and
``stream_replay`` (open loop, stream_replay.py).  The benchmark calls the
program's public functions and times them from outside; it changes no
program file.  Scratch files live under ``perfbench/.work`` and are
removed at exit.

A run sets up SETUPS times (start the Spark session, ship the package,
generate the seeded inputs; every session but the last is stopped), then
measures.  Outputs are checked outside the timed calls.  The last stdout
line is one JSON object; a failed check makes ``correct`` false and the
exit code 1.  The lines before it print the host pins, the time of a
fixed Python loop (``host.ref_loop_ms``, which shows a slower host), and
the per-path figures (``op.*`` below and failures over attempts).

End-to-end metrics (``--trace 0``), the same five for each workload.  A
cycle is one dump + cold reload + hot-skip reloads (dump_reload) or one
row's trip through the chain (stream_replay):

- ``setup_s``: median of the SETUPS set-ups.
- ``cold_s``: dump_reload, the first cycle, in the last set-up's fresh
  session and a JVM that has run no query yet.  stream_replay, from
  starting both queries until every row of file 0 is committed; one
  chain start is measured after each set-up, and cold_s is the median of
  those in restarted sessions (the JVM's first one is left out).
- ``cycle_s_p50``: median wall time of a warm cycle; for stream_replay,
  the median per-row replay latency from the time the row's file was
  due to the first sink commit listing the row.
- ``cpu_ms_per_krow``: CPU time of the whole process tree (driver
  Python, JVM, Python workers) per 1,000 input rows; median over warm
  cycles, or over the measured window for stream_replay.
- ``peak_rss_mb``: summed VmHWM of the process tree after the warm cycles.

``--trace 1`` measures the untraced procedure with half the window (its
figures give ``trace.overhead_pct``), then restarts the session with the
Spark event log on, installs the spans (tracing.py) and, for
stream_replay, a progress listener, and measures the other half.  It
prints the PER_LAYER metrics; a layer a workload does not run reads 0.

- dump_reload: each is the median over the traced warm cycles of its
  per-cycle value.
- stream_replay: ``exec.*`` and ``cpu.*`` are per generated file in the
  window; ``stream.*`` are per micro-batch in the window; ``dump.*``,
  ``transform.*``, ``stream.sink_log_files`` and
  ``stream.checkpoint_bytes`` cover the whole traced chain.
- ``op.*`` come from the untraced half.
- ``trace.overhead_pct``: traced minus untraced cycle_s_p50, as a share
  of the untraced one.  The traced half runs later in the JVM's life,
  so JIT warm-up still in progress pulls this figure down.
- ``trace.unattributed_pct``: the share of the blocking path that no
  named layer covers.  For dump_reload that is the part of the CLI calls
  outside their direct child spans.  For stream_replay it is the part of
  the replay latency p50 outside the median latestOffset, planning, WAL
  and addBatch stages of both queries, i.e. waiting between triggers.
  The stated tolerance is 10% either way.

Spans are written to ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import atexit
import json
import logging
import os
import shutil
import statistics
import sys
import time

import host
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
APP = "perfbench"
SETUPS = 4

END_TO_END = {"setup_s": "s", "cold_s": "s", "cycle_s_p50": "s", "cpu_ms_per_krow": "ms", "peak_rss_mb": "MB"}
_STREAM_STATS = {"batches": "count", "rows_per_batch_p50": "count", "trigger_ms_p50": "ms",
                 "trigger_ms_p90": "ms", "latest_offset_ms_p50": "ms", "planning_ms_p50": "ms",
                 "add_batch_ms_p50": "ms", "wal_commit_ms_p50": "ms", "commit_ms_p50": "ms"}
PER_LAYER = {
    "session.start_s": "s", "session.ship_s": "s",
    "dump.plan_s": "s", "reload.offsets_s": "s",
    "dump.write_s": "s", "dump.files": "count", "dump.bytes_out": "bytes",
    "reload.discover_ms": "ms", "reload.scan_s": "s", "reload.sink_s": "s",
    "transform.s": "s", "transform.rows_in": "count", "transform.rows_out": "count",
    "state.read_ms": "ms", "state.write_ms": "ms", "state.records": "count",
    **{f"stream.{q}.{k}": u for q in ("dump", "reload") for k, u in _STREAM_STATS.items()},
    "stream.sink_log_files": "count", "stream.checkpoint_bytes": "bytes", "gen.late_ms_p90": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.task_wait_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "cpu.driver_s": "s", "cpu.jvm_s": "s", "cpu.pyworker_s": "s",
    "plan.build_s": "s",
    "op.dump_rows_per_s": "1/s", "op.reload_rows_per_s": "1/s", "op.hot_skip_ms_p50": "ms",
    "op.replay_ms_p50": "ms", "op.replay_ms_p90": "ms", "op.samples": "count", "op.failed_ratio": "ratio",
    "trace.overhead_pct": "%", "trace.unattributed_pct": "%", "host.ref_loop_ms": "ms",
}


class LogCapture(logging.Handler):
    """Keeps the program's log records so a cycle can read what the CLI
    reported (planned rows, reload action)."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.records: list[logging.LogRecord] = []

    def emit(self, record):
        self.records.append(record)

    def clear(self):
        self.records.clear()

    def all_args(self, msg: str) -> list[tuple]:
        return [r.args for r in self.records if r.msg == msg]

    def args(self, msg: str):
        found = self.all_args(msg)
        return found[0] if found else None


def start_session(extra_conf: dict | None = None):
    from kafka_topic_dumper_spark.session import ensure_shipped, get_session

    spark = get_session(APP, extra_conf={**host.jvm_conf(), **(extra_conf or {})})
    ensure_shipped(spark)
    return spark


def shutdown(spark) -> None:
    """Stop the context and the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    started = [pid for pid, _role in host.tree() if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    host.wait_gone(started, timeout=30)


def setup(workload):
    """SETUPS set-ups, each followed by the workload's cold probe (not
    timed as set-up); returns (the last session, the set-up durations)."""
    durations = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session()
        workload.generate()
        durations.append(time.perf_counter() - t0)
        workload.cold_probe(spark)
        if k < SETUPS - 1:
            spark.stop()
    return spark, durations


def layer_medians(units: list[dict]) -> dict:
    """Median over the traced units of each layer value per cycle."""
    return {k: statistics.median(u["layers"][k] / u["per"] for u in units) for k in units[0]["layers"]}


def run(name: str, seed: int, seconds: float, trace_on: bool, work: str, log: LogCapture) -> dict:
    import importlib

    w = importlib.import_module(name).Workload(work, seed, seconds / 2 if trace_on else seconds, log)
    tracer = None
    if trace_on:
        tracer = tracing.Tracer()
        tracer.install()  # only to time the session start and ship of the set-ups
    spark, setups = setup(w)
    if tracer:
        tracer.uninstall()
    phase = w.measure(spark, cold=True)
    e2e = {"setup_s": statistics.median(setups), "cold_s": phase["cold_s"],
           "cycle_s_p50": phase["cycle_s_p50"], "cpu_ms_per_krow": phase["cpu_ms_per_krow"],
           "peak_rss_mb": host.rss_hwm_mb()}
    out = {"e2e": e2e, "setups": setups, "phases": [phase]}
    if not trace_on:
        shutdown(spark)
        return out

    spark.stop()
    events = os.path.join(work, "events")
    tracer.install()
    spark = start_session(tracing.event_log_conf(events))
    traced = w.measure(spark, cold=False, tracer=tracer)
    tracer.uninstall()
    shutdown(spark)  # also flushes the event log
    out["phases"].append(traced)
    units = traced["units"]
    exec_rows = tracing.parse_event_log(events, [u["epoch"] for u in units])
    for u, ex in zip(units, exec_rows):
        u["layers"].update(ex)
    layers = layer_medians(units)
    # the first session start of the run launches the JVM
    for key, span in (("session.start_s", "session.get"), ("session.ship_s", "session.ship")):
        first = next(s for s in tracer.spans if s["name"] == span)
        layers[key] = first["end"] - first["start"]
    layers.update(traced.get("layers", {}))
    layers.update(phase["op"])
    layers["trace.overhead_pct"] = (traced["cycle_s_p50"] / phase["cycle_s_p50"] - 1) * 100
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    tracer.write(os.path.join(HERE, ".out", f"spans-{name}-{seed}.jsonl"))
    out["layers"] = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dump_reload", "stream_replay"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, tracing.PKG, "__init__.py")):
        print(f"error: {tracing.PKG}/ not found under {ROOT}; run from a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # registered first so it runs last: the program's own exit hooks
    # delete files inside the work directory
    atexit.register(shutil.rmtree, work, True)
    pins = host.pin(work)
    logging.basicConfig(format="%(asctime)s %(levelname)s %(name)s %(message)s")
    logging.getLogger().handlers[0].setLevel(logging.WARNING)
    log = LogCapture()
    program_log = logging.getLogger(tracing.PKG)
    program_log.setLevel(logging.INFO)
    program_log.addHandler(log)
    ref_ms = host.ref_loop_ms()
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), work, log)

    phases = out["phases"]
    attempted = sum(ph["attempted"] for ph in phases)
    failed = sum(ph["failed"] for ph in phases)
    for ph in phases:
        for problem in ph["problems"]:
            print(f"check failed: {problem}", file=sys.stderr)
    facts = host.host_facts()
    print(f"host: nproc={facts['nproc']} ram_gb={facts['ram_gb']} ref_loop_ms={ref_ms:.1f} "
          + " ".join(f"{k}={pins[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"))
          + f" java_options='{host.jvm_conf()['spark.driver.extraJavaOptions']}'")
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"setups_s={[round(s, 4) for s in out['setups']]}")
    figures = [(k, v, END_TO_END[k]) for k, v in out["e2e"].items()]
    figures += [(k, v, PER_LAYER[k]) for k, v in phases[0]["op"].items()]
    figures.append(("failed_ratio", failed / attempted, f"ratio ({failed}/{attempted})"))
    for k, v, unit in figures:
        print(f"  {k:<24} {v:>14.4f} {unit}")
    if args.trace:
        out["layers"]["op.failed_ratio"] = failed / attempted
        out["layers"]["host.ref_loop_ms"] = ref_ms
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in out["e2e"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
