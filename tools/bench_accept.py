#!/usr/bin/env python3
"""Acceptance loop for BENCH_ACCEPTED.json — wait-for-idle, run the
full bench suite, gate the reading, accept or retry.

Usage::

    python tools/bench_accept.py [MAX_ATTEMPTS]

The accepted-reading refresh (r15 artifact split) requires a full-suite
reading taken on a genuinely quiet host: quiet bracketing controls,
zero flagged suite checkpoints, zero >tripwire rows vs BENCH_PINS.json.
The host this runs on has episodic load spikes (r15 burned four manual
attempts; r16 burned three more), so this tool productizes the retry:

1. wait until the host is idle (1-min load <= 0.30 AND 5-min <= 0.80,
   polled every 60 s, bounded), then certify the window against
   hypervisor CPU steal with a 30-s /proc/stat probe (<= 0.5%) —
   loadavg cannot see steal, and steal is what actually killed the
   r16/r17 idle-gated attempts (r18: the probe-gated launch passed
   the strict gate first try);
2. run ``python bench.py`` (writes BENCH_DETAIL.json);
3. evaluate with tools/bench_compare.evaluate() — position-aware quiet
   ceilings (r16 calibration) + the per-row tripwire;
4. if ACCEPTABLE: copy the reading to BENCH_ACCEPTED.json with an
   accepted_note and exit 0. Otherwise cool down and retry.

Exit 0 on acceptance, 1 when attempts are exhausted. The
BENCH_BASELINE.md paragraph documenting the accepted reading is still
written by hand, in the same commit as the refreshed blob.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

import bench  # noqa: E402
import bench_compare  # noqa: E402

IDLE_LOAD1 = 0.30
IDLE_LOAD5 = 0.80
IDLE_POLL_S = 60
IDLE_MAX_WAIT_S = 45 * 60
COOLDOWN_S = 120  # after a failed attempt, before the idle wait
# Steal gate (r18): loadavg cannot see hypervisor contention — the
# r17 campaign's attempts 1-6 all launched idle-gated and failed on
# roaming CPU steal, while the r18 accepted reading landed first-try
# after a probe read the window steal-clean. Bar matches the
# composite tool's sourcing threshold (clean windows read <= 0.4%).
STEAL_PROBE_S = 30
STEAL_IDLE_PCT = 0.5


def _load() -> tuple[float, float]:
    l1, l5 = open("/proc/loadavg").read().split()[:2]
    return float(l1), float(l5)


def _steal_probe(window_s: float = STEAL_PROBE_S) -> float:
    """%% of CPU time stolen by the hypervisor over a short window
    (the same integral bench.py annotates its suite windows with)."""
    mark = bench.steal_mark()
    time.sleep(window_s)
    return bench.steal_pct(mark, bench.steal_mark())


def wait_for_idle() -> bool:
    """Wait until the host is idle, then CONFIRM idleness with a fresh
    /proc/loadavg read immediately before returning.  Up to 60 s could
    elapse between the last poll and the bench launch — a race the r16
    campaign documented (loop 5's pre-control of 3.515 after an
    idle-gated launch) — so a stale poll never greenlights a launch;
    if the host got busy again we go back to waiting (ADVICE r16)."""
    t0 = time.time()
    while time.time() - t0 < IDLE_MAX_WAIT_S:
        l1, l5 = _load()
        if l1 <= IDLE_LOAD1 and l5 <= IDLE_LOAD5:
            # loadavg is idle — now certify the window against
            # hypervisor steal, which loadavg cannot see (r18): the
            # probe doubles as the settle period, and a fresh loadavg
            # read right after closes the launch race (ADVICE r16)
            steal = _steal_probe()
            l1, l5 = _load()
            if steal > STEAL_IDLE_PCT:
                print(f"idle loadavg but steal {steal}% over "
                      f"{STEAL_PROBE_S}s probe — re-waiting", flush=True)
                continue
            if l1 <= IDLE_LOAD1 and l5 <= IDLE_LOAD5:
                print(f"host idle (load {l1}/{l5}, steal {steal}%)",
                      flush=True)
                return True
            print(f"idle race: load rose to {l1}/{l5} before launch — "
                  f"re-waiting", flush=True)
            continue
        print(f"waiting for idle: load {l1}/{l5}", flush=True)
        time.sleep(IDLE_POLL_S)
    return False


def main(argv: list[str]) -> int:
    max_attempts = int(argv[1]) if len(argv) > 1 else 5
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    accepted_path = os.path.join(REPO, "BENCH_ACCEPTED.json")
    pins_doc = bench.load_pins()

    attempt = 0
    never_idle_skips = 0
    pre_abort_skips = 0
    while attempt < max_attempts:
        if not wait_for_idle():
            # a never-idle wait ran no bench — don't burn an attempt on
            # it (ADVICE r16), but cap consecutive skips so a busy host
            # still terminates the loop
            never_idle_skips += 1
            print(f"host never went idle (skip {never_idle_skips}/3; "
                  f"attempts used {attempt}/{max_attempts})", flush=True)
            if never_idle_skips >= 3:
                print("3 consecutive never-idle waits — giving up",
                      flush=True)
                break
            continue
        never_idle_skips = 0
        attempt += 1
        print(f"attempt {attempt}: running bench.py", flush=True)
        t0 = time.time()
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py")],
                cwd=REPO, capture_output=True, text=True, timeout=2400,
                # doomed attempts abort after the pre-control (~1 min)
                # instead of burning the full ~11-minute suite (r17
                # attempts 1/5 were lost to a loaded pre-control)
                env={**os.environ,
                     "SPARK_GRAFT_BENCH_ABORT_ON_LOADED_PRE": "1"},
            )
        except subprocess.TimeoutExpired:
            # treat like any other failed attempt: log, cool down,
            # retry (ADVICE r16 — an uncaught TimeoutExpired aborted
            # the whole loop)
            print(f"attempt {attempt}: bench.py timed out after 2400 s",
                  flush=True)
            time.sleep(COOLDOWN_S)
            continue
        if proc.returncode == 3:
            # pre-control abort: bench.py bailed ~1 min in because the
            # pre-control probe read loaded — no suite ran, so this is
            # the same class as a never-idle wait, not a burned attempt
            # (ADVICE r17). Cap consecutive aborts so a host whose
            # loadavg looks idle but whose probe always reads hot still
            # terminates the loop.
            attempt -= 1
            pre_abort_skips += 1
            print(f"pre-control abort (skip {pre_abort_skips}/3; "
                  f"attempts used {attempt}/{max_attempts}):\n"
                  f"{proc.stdout[-300:]}", flush=True)
            if pre_abort_skips >= 3:
                print("3 consecutive pre-control aborts — giving up",
                      flush=True)
                break
            time.sleep(COOLDOWN_S)
            continue
        if proc.returncode != 0:
            print(f"attempt {attempt}: bench.py exit {proc.returncode}:\n"
                  f"{proc.stdout[-500:]}\n{proc.stderr[-500:]}", flush=True)
            pre_abort_skips = 0
            time.sleep(COOLDOWN_S)
            continue
        pre_abort_skips = 0
        # archive the attempt's detail before the next one overwrites
        # it: failed attempts with steal-clean windows are composite
        # sources for tools/bench_composite.py (r17)
        archive_dir = os.path.join(REPO, ".bench_attempts")
        os.makedirs(archive_dir, exist_ok=True)
        with open(detail_path) as src:
            with open(os.path.join(
                    archive_dir,
                    time.strftime("attempt_%Y%m%d_%H%M%S.json")), "w") as dst:
                dst.write(src.read())
        ev = bench_compare.evaluate(detail_path, pins_doc)
        print(
            f"attempt {attempt} ({time.time()-t0:.0f}s): pre {ev['pre']} "
            f"post {ev['post']} flagged {ev['flagged']} "
            f"trips {[(round(r[0], 2), r[1]) for r in ev['trips']]} -> "
            f"{'ACCEPTABLE' if ev['acceptable'] else 'not acceptable'}",
            flush=True,
        )
        if ev["acceptable"]:
            blob = dict(ev["raw_doc"])
            blob["accepted_note"] = (
                "Builder's accepted quiet full-suite reading (via "
                "tools/bench_accept.py, "
                + time.strftime("%Y-%m-%d")
                + "): idle-gated launch, quiet brackets under the r16 "
                "position-aware ceilings (BENCH_BASELINE.md r16 "
                "calibration), zero flagged suite checkpoints, zero "
                ">1.5x rows vs BENCH_PINS.json. The driver's per-round "
                "loaded-host reading overwrites BENCH_DETAIL.json, "
                "never this file."
            )
            bench.write_json(accepted_path, blob)
            print(f"accepted: wrote {accepted_path}", flush=True)
            return 0
        time.sleep(COOLDOWN_S)
    print("attempts exhausted without an acceptable reading", flush=True)
    return 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
