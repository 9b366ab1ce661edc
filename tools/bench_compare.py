#!/usr/bin/env python3
"""Bench compare: a bench reading against the pins of the host it was
taken on.

Usage::

    python tools/bench_compare.py [BENCH_JSON]

``BENCH_JSON`` is a full ``bench.py`` reading: ``BENCH_DETAIL.json``
(the raw latest reading, overwritten by every run; the default) or
``BENCH_ACCEPTED.json`` (the reading the current pins were taken
from). Wall seconds per row come from the recording keys of
``bench.SUITES`` (``bench.load_timings``), the min process-tree
CPU-seconds per row from ``query_cpu``, and the host from ``host``.

``BENCH_PINS.json`` holds one entry per host key (``bench.host_key``:
cores, parallelism, RAM, scale factor); each row of an entry is pinned
at ``{"wall", "cpu"}`` seconds. A reading whose host has no entry, or
that carries no host/CPU record at all (the headline-only per-round
readings such as ``BENCH_r19.json``), is refused with exit 2: a 4-core
reading is never judged against 32-core pins.

A row trips when its wall or its CPU exceeds its pin by more than the
tripwire (1.5x). The trip is labelled ``cpu`` when the CPU ratio trips
(the code got more expensive) and ``wall-only`` when the CPU stayed
under the tripwire (contention or lost parallelism). Exit 1 if any row
trips, 0 otherwise. Each row also shows its parallel efficiency,
CPU / (wall x parallelism).

Conventions (BENCH_BASELINE.md): a trip is analyzed, not auto-re-pinned
(``tools/bench_standalone.py`` on the tripped rows first); band
residents (1.2-1.5x) keep their pins; pins are never lowered on a fast
day. Exit 1 is advisory until the gate has a contention control: on
the pinned 4-core host, readings of unchanged code still trip ``cpu``
on single rows (BENCH_BASELINE.md, "Host-keyed CPU pins").
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def refuse(msg: str):
    print(msg, file=sys.stderr)
    raise SystemExit(2)


def host_pins(pins_doc: dict, host: dict) -> tuple[str, dict]:
    """(host key, {row: {"wall", "cpu"}}) for a reading's host record;
    refuses (exit 2) a host with no entry."""
    key = bench.host_key(host)
    if key not in pins_doc["hosts"]:
        refuse(f"no pins for host {key} in BENCH_PINS.json (pinned: "
               f"{sorted(pins_doc['hosts'])}); pin it from a full reading "
               f"taken on this host")
    return key, pins_doc["hosts"][key]["pins"]


def judge(walls: dict[str, float], cpus: dict[str, float], pins: dict,
          parallelism: int, tripwire: float) -> list[dict]:
    """One record per pinned row of the reading, worst ratio first."""
    rows = []
    for name, wall in walls.items():
        if name not in pins:
            continue
        cpu = cpus[name]
        wall_ratio = wall / pins[name]["wall"]
        cpu_ratio = cpu / pins[name]["cpu"]
        rows.append({
            "row": name, "wall": wall, "cpu": cpu,
            "wall_ratio": round(wall_ratio, 3),
            "cpu_ratio": round(cpu_ratio, 3),
            "efficiency": round(cpu / (wall * parallelism), 3),
            "trip": ("cpu" if cpu_ratio > tripwire
                     else "wall-only" if wall_ratio > tripwire else None),
        })
    rows.sort(key=lambda r: max(r["wall_ratio"], r["cpu_ratio"]), reverse=True)
    return rows


def evaluate(doc: dict, pins_doc: dict) -> dict:
    """The verdict on one reading: per-row records, the trips, the
    band residents, and the rows only one side has."""
    if not (doc.get("host") and doc.get("query_cpu")):
        refuse("the reading has no host/CPU record (a pre-CPU reading "
               "such as BENCH_r19.json): no host-keyed pins apply")
    key, pins = host_pins(pins_doc, doc["host"])
    walls = bench.load_timings(doc)
    rows = judge(walls, doc["query_cpu"], pins, doc["host"]["parallelism"],
                 pins_doc["tripwire"])
    return {
        "key": key,
        "rows": rows,
        "trips": [r for r in rows if r["trip"]],
        "band": [r for r in rows if not r["trip"] and max(
            r["wall_ratio"], r["cpu_ratio"]) >= pins_doc["band_low"]],
        "unpinned": sorted(set(walls) - set(pins)),
        "absent": sorted(set(pins) - set(walls)),
    }


def main(argv: list[str]) -> int:
    path = argv[1] if len(argv) > 1 else os.path.join(REPO, "BENCH_DETAIL.json")
    pins_doc = bench.load_pins()
    with open(path) as fh:
        ev = evaluate(json.load(fh), pins_doc)
    rows, trips = ev["rows"], ev["trips"]
    print(f"bench: {path}\nhost: {ev['key']}   rows compared: {len(rows)}   "
          f"median ratio wall "
          f"{statistics.median(r['wall_ratio'] for r in rows):.3f} cpu "
          f"{statistics.median(r['cpu_ratio'] for r in rows):.3f}")
    print(f"\n{'wall x':>7} {'cpu x':>6} {'eff':>5}  {'wall s':>7} "
          f"{'cpu s':>7}  row")
    for r in rows:
        print(f"{r['wall_ratio']:7.2f} {r['cpu_ratio']:6.2f} "
              f"{r['efficiency']:5.2f}  {r['wall']:7.3f} {r['cpu']:7.3f}  "
              f"{r['row']}{'  <-- ' + r['trip'] if r['trip'] else ''}")
    for what in ("unpinned", "absent"):
        if ev[what]:
            print(f"{what} rows: {ev[what]}")
    labels = [r["trip"] for r in trips]
    print(f"\n>{pins_doc['tripwire']}x trips: {len(trips)} "
          f"(cpu {labels.count('cpu')}, wall-only {labels.count('wall-only')})"
          f"   band: {len(ev['band'])}")
    return 1 if trips else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
