"""Tracing for ``--trace 1`` runs: spans around the program's public
layer calls, the Spark event log, and a streaming-progress listener.

Spans are kept in memory and written out when the run ends.  They are
recorded by wrapping module attributes from outside the program; the
program itself is not changed.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time

# (module, attribute, span name).  Names are the per-layer metric stems.
# Each wrapped attribute is the one the caller looks up at call time
# (e.g. ``reload.read_dump`` is called as a global of streaming.reload).
PKG = "kafka_topic_dumper_spark"
LAYER_CALLS = [
    ("cli", "main", "cli.main"),
    ("session", "get_session", "session.get"),
    ("session", "ensure_shipped", "session.ship"),
    ("cli", "_archive_offsets", "offsets.scan"),
    ("plans.offsets", "plan_tail_dump", "offsets.plan"),
    ("streaming.dump", "apply_plan", "plan.build"),
    ("streaming.dump", "dump_batch", "dump.write"),
    ("streaming.reload", "find_latest_dump_id", "reload.discover"),
    ("streaming.reload", "read_dump", "plan.build"),
    ("streaming.reload", "apply_transformer", "plan.build"),
    ("streaming.reload", "reload_dump", "reload.run"),
    ("streaming.state", "read_latest_state", "state.read"),
    ("streaming.state", "save_state", "state.write"),
]
# cli.main opens the archive with spark.read.parquet before its offsets
# scan; the same reader also opens dumps inside read_dump.
READER = ("pyspark.sql.readwriter", "DataFrameReader", "parquet", "read.parquet")


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory.  install()
    wraps LAYER_CALLS and READER so that each call records a span;
    uninstall() puts the originals back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": None, "name": name, "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, owner, attr: str, name: str, hook=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if hook:
                args, kwargs = hook(args, kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        for mod, attr, name in LAYER_CALLS:
            hook = self._sink_hook if attr == "reload_dump" else None
            self._wrap(importlib.import_module(f"{PKG}.{mod}"), attr, name, hook)
        mod, cls, attr, name = READER
        self._wrap(getattr(importlib.import_module(mod), cls), attr, name)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _sink_hook(self, args, kwargs):
        """reload_dump's sink is a closure built inside cli.main; time it
        by wrapping the argument on its way in."""
        args = list(args)
        inner = args[6] if len(args) > 6 else kwargs["sink"]

        def sink(df):
            with self.span("reload.sink"):
                return inner(df)

        if len(args) > 6:
            args[6] = sink
        else:
            kwargs["sink"] = sink
        return tuple(args), kwargs

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def total(spans: list[dict], name: str) -> float:
    """Summed duration of the spans called ``name``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def event_log_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
    }


EXEC_KEYS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
             "exec.task_wait_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
             "exec.spill_bytes", "exec.input_bytes", "exec.output_bytes"]


def parse_event_log(directory: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Executor totals per window (wall-clock seconds since the epoch),
    attributing each job, stage and task to the window in which its
    job/stage was submitted."""
    out = [dict.fromkeys(EXEC_KEYS, 0.0) for _ in windows]

    def slot(ms):
        t = ms / 1000
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    stage_slot: dict[tuple[int, int], int | None] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    logs = sorted(os.path.join(base, n) for base, _d, names in os.walk(directory)
                  for n in names if not n.startswith(("appstatus", ".")))
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    i = slot(ev["Submission Time"])
                    if i is not None:
                        out[i]["exec.jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    sub = info.get("Submission Time")
                    if sub is not None:
                        stage_submit[key] = sub
                        stage_slot[key] = slot(sub)
                        if stage_slot[key] is not None:
                            out[stage_slot[key]]["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    i = stage_slot.get(key)
                    m = ev.get("Task Metrics")
                    if i is None or not m:
                        continue
                    o = out[i]
                    o["exec.tasks"] += 1
                    o["exec.run_s"] += m["Executor Run Time"] / 1e3
                    o["exec.cpu_s"] += m["Executor CPU Time"] / 1e9
                    o["exec.gc_s"] += m["JVM GC Time"] / 1e3
                    o["exec.task_wait_s"] += max(0, ev["Task Info"]["Launch Time"] - stage_submit[key]) / 1e3
                    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                    o["exec.shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    o["exec.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    o["exec.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    o["exec.input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    o["exec.output_bytes"] += m["Output Metrics"]["Bytes Written"]
    return out


def progress_listener(spark, sink: list):
    """A StreamingQueryListener appending (query id, progress dict) for
    every micro-batch to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append((str(p.id), {"batch": p.batchId, "rows": p.numInputRows,
                                     "durations": dict(p.durationMs), "at": time.time()}))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """Every span below ``root_id`` (not the root itself)."""
    below: dict[int, list[dict]] = {}
    for s in spans:
        below.setdefault(s["parent"], []).append(s)
    out, stack = [], [root_id]
    while stack:
        for s in below.get(stack.pop(), []):
            out.append(s)
            stack.append(s["id"])
    return out


def uncovered(spans: list[dict], root_id: int, call: str) -> float:
    """Seconds of the ``call`` spans directly under ``root_id`` that none
    of their direct children covers."""
    out = 0.0
    for c in (s for s in spans if s["parent"] == root_id and s["name"] == call):
        covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == c["id"])
        out += (c["end"] - c["start"]) - covered
    return out
