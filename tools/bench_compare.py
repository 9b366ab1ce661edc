#!/usr/bin/env python3
"""Drift-convention bench compare: a bench reading vs the accepted pins.

Usage::

    python tools/bench_compare.py [BENCH_JSON]

``BENCH_JSON`` is any bench output carrying per-query timings —
``BENCH_DETAIL.json`` (the RAW latest full-suite reading, driver-
overwritten each round; the default), ``BENCH_ACCEPTED.json`` (the
builder's accepted quiet reading — the blob the test suite asserts
no-trips on), or a driver ``BENCH_r{N}.json``. Per-query timings are
taken from the recording keys of ``bench.SUITES`` (``bench.load_timings``).

Pins come from ``BENCH_PINS.json`` — the authoritative latest-accepted
pin per row. This script exists because the per-round compare was
previously re-implemented ad hoc against the BENCH_BASELINE.md prose,
and the round-14 compare silently used two PRE-r12 pins (the stale
first table entries) and misreported two at-pin rows as 1.2-1.5x band
residents. One pins file + one script = no stale-pin compares.

Output: per-row ratio table (worst first), the >tripwire trips, the
band residents, and the median ratio. Exit code 1 if any row trips
(so the compare can gate automation), 0 otherwise.

Convention reminders (BENCH_BASELINE.md):
- a trip is analyzed, not auto-re-pinned: standalone bracketed
  min-of-3 on a verified-quiet host FIRST (suite-position inflation is
  documented for the editdist/mjpeg class), then the
  old-code-on-today's-host worktree experiment to split regression
  from host-generation drift;
- band residents (1.2-1.5x) keep their pins;
- pins are never lowered on a fast day.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from bench import PRE, TAIL  # noqa: E402


def _read(path: str) -> dict:
    """A bench reading; a per-round BENCH_r{N}.json wraps the stdout line
    under "parsed" (headline-only "queries")."""
    with open(path) as fh:
        doc = json.load(fh)
    if isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    return doc


def evaluate(bench_path: str, pins_doc: dict) -> dict:
    """Machine-readable compare: per-row ratios, trips, flagged
    checkpoints, and the acceptance verdict (quiet brackets + zero
    flagged checkpoints + zero trips). Used by main() for display and
    by tools/bench_accept.py to gate BENCH_ACCEPTED.json refreshes."""
    pins = pins_doc["pins"]
    tripwire = float(pins_doc["tripwire"])
    band_low = float(pins_doc["band_low"])

    raw_doc = _read(bench_path)
    timings = bench.load_timings(raw_doc)
    if not timings:
        raise SystemExit(
            f"no per-query timings found in {bench_path} — no 'queries*' "
            f"dict keys. Is this an unparsed per-round bench file (raw stdout "
            f"under 'output', like BENCH_r07/r09)? Point this tool at "
            f"BENCH_DETAIL.json / BENCH_ACCEPTED.json or a parsed "
            f"BENCH_r{{N}}.json instead."
        )
    rows = []
    unpinned = []
    for name, sec in timings.items():
        if name in pins:
            rows.append((sec / pins[name]["pin"], name, sec, pins[name]["pin"]))
        else:
            unpinned.append(name)
    rows.sort(reverse=True)
    trips = [r for r in rows if r[0] > tripwire]
    band = [r for r in rows if band_low <= r[0] <= tripwire]

    checkpoints = raw_doc.get("suite_checkpoints") or {}
    flagged = [tag for tag in checkpoints
               if not bench.probe_quiet(raw_doc, pins_doc, tag)]
    pre = raw_doc.get("control_q1_pre")
    post = raw_doc.get("control_q1_post")
    brackets_ok = (bool(checkpoints)
                   and bench.probe_quiet(raw_doc, pins_doc, PRE)
                   and bench.probe_quiet(raw_doc, pins_doc, TAIL))
    return {
        "rows": rows,
        "unpinned": unpinned,
        "trips": trips,
        "band": band,
        "tripwire": tripwire,
        "band_low": band_low,
        "checkpoints": checkpoints,
        "flagged": flagged,
        "pre": pre,
        "post": post,
        "acceptable": brackets_ok and not flagged and not trips,
        "raw_doc": raw_doc,
    }


def main(argv: list[str]) -> int:
    bench_path = argv[1] if len(argv) > 1 else os.path.join(REPO, "BENCH_DETAIL.json")
    pins_doc = bench.load_pins()
    pins = pins_doc["pins"]

    ev = evaluate(bench_path, pins_doc)
    rows, trips, band = ev["rows"], ev["trips"], ev["band"]
    unpinned, timings = ev["unpinned"], {r[1]: r[2] for r in ev["rows"]}
    timings.update({n: None for n in unpinned})
    tripwire, band_low = ev["tripwire"], ev["band_low"]
    print(f"bench: {bench_path}")
    print(f"pinned rows compared: {len(rows)}   median ratio: "
          f"{statistics.median(r[0] for r in rows):.3f}")

    # Suite checkpoints (r15): if the reading carries per-suite q1 +
    # loadavg checkpoints, print them with the out-of-quiet-range ones
    # flagged, so a trip can be attributed to (or cleared of) a
    # contaminated window before any re-pin discussion.
    #
    # Position-aware ceilings (r16 calibration, BENCH_BASELINE.md): the
    # q1 probe reads as a function of SESSION DEPTH on a quiet host —
    # ~0.55-0.9 right after warm-up, ~0.56 after one headline pass,
    # 0.44-0.53 at mid-suite depth, 0.36-0.43 after the full suite —
    # so the pre-control, the early checkpoints, the mid/late
    # checkpoints, and the post-control each get their own ceiling.
    # The single control_q1_quiet band (calibrated on POST-control
    # depth) false-flagged every historical acceptance attempt.
    flagged = ev["flagged"]
    if ev["checkpoints"]:
        for tag, cp in ev["checkpoints"].items():
            hi = bench.quiet_ceiling(pins_doc, tag)
            mark = f"  <-- LOADED (> {hi})" if cp["q1"] > hi else ""
            # steal_pct (r17): external-contention integral over the
            # suite window — the mechanical spike attribution the
            # instantaneous q1 probe can miss
            steal = (f" steal {cp['steal_pct']:.2f}%"
                     if "steal_pct" in cp else "")
            print(f"  checkpoint {tag}: q1 {cp['q1']:.3f} "
                  f"load {cp['load1']:.2f}/{cp['load5']:.2f}{steal}{mark}")
        raw = ev["raw_doc"]
        if "steal_pct_run" in raw:
            print(f"  steal: tail {raw.get('steal_pct_tail')}% "
                  f"run {raw.get('steal_pct_run')}%")
        if flagged:
            print(f"contaminated windows: {flagged} — discount rows in "
                  f"the suites those checkpoints bound")

    # Acceptance verdict (only meaningful for a full-suite reading with
    # bracketing controls): quiet brackets + no flagged checkpoints +
    # zero trips.
    pre, post = ev["pre"], ev["post"]
    if pre is not None and post is not None and ev["checkpoints"]:
        pre_hi = bench.quiet_ceiling(pins_doc, PRE)
        post_hi = bench.quiet_ceiling(pins_doc, TAIL)
        print(f"acceptance gate: pre {pre} (<= {pre_hi}: "
              f"{'ok' if pre <= pre_hi else 'FAIL'})  post {post} (<= {post_hi}: "
              f"{'ok' if post <= post_hi else 'FAIL'})  flagged checkpoints "
              f"{len(flagged)}  trips {len(trips)} -> "
              f"{'ACCEPTABLE' if ev['acceptable'] else 'NOT ACCEPTABLE'}")
    if unpinned:
        print(f"UNPINNED rows in bench output (add to BENCH_PINS.json "
              f"when first accepted): {sorted(unpinned)}")
    missing = sorted(set(pins) - set(timings))
    if missing:
        # driver BENCH_r{N}.json carries only the 20 headline rows, so
        # a long absent-list is expected there — summarize it
        if len(missing) > 10:
            print(f"pinned rows absent from this bench output: "
                  f"{len(missing)} (headline-only file; full per-suite "
                  f"rows live in BENCH_DETAIL.json)")
        else:
            print(f"pinned rows absent from this bench output: {missing}")

    print(f"\n>{tripwire}x TRIPS ({len(trips)}) — analyze per the drift "
          f"convention before re-pinning:")
    for ratio, name, sec, pin in trips:
        print(f"  {ratio:5.2f}x  {name}  {sec:.3f} vs pin {pin:.3f}")
    print(f"\n{band_low}-{tripwire}x band ({len(band)}) — keep pins:")
    for ratio, name, sec, pin in band:
        print(f"  {ratio:5.2f}x  {name}  {sec:.3f} vs pin {pin:.3f}")
    print(f"\nfastest 5 vs pin:")
    for ratio, name, sec, pin in rows[-5:]:
        print(f"  {ratio:5.2f}x  {name}  {sec:.3f} vs pin {pin:.3f}")
    return 1 if trips else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
