#!/usr/bin/env python3
"""Standalone bracketed min-of-N reading for one or more benched rows —
the drift convention's trip-triage measurement, productized.

Usage::

    python tools/bench_standalone.py ROW [ROW ...]

The convention (BENCH_BASELINE.md): when a row trips the 1.5x
tripwire in a full-suite or driver reading, the FIRST step is a
standalone bracketed min-of-3 on a verified-quiet host — suite-position
inflation (heap pressure, position in a 100-row session) is documented
for several row classes, and the standalone number is the comparable
one. Re-pin only if the standalone reading is ALSO elevated (then run
the old-code worktree experiment to split regression from host drift).

ROW is any row in ``bench.SUITES``. The reading uses bench.py's own
mechanics: its session confs (``session.get_session``), sf dir,
warm-up (``bench.warm_up``) and timing loop (``bench.time_row``, so
each row keeps its protocol: the untimed warm call, the fresh output
directory, the single run), and brackets the timed rows with the q1
host-quietness control. It prints the 1-/5-/15-min load averages
first: per the r14 finding, a settled 1-min average can mask a
still-draining host that the 5-min average (and an inflated
post-control) catches, so readings taken with an elevated 5-min load
should be discarded, not recorded.

Output: one JSON line with the controls, per-row min-of-N seconds, and
the ratio vs the row's BENCH_PINS.json pin (null if unpinned).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from kafka_topic_dumper_spark.session import get_session  # noqa: E402


def main(argv: list[str]) -> int:
    names = [a for a in argv[1:] if not a.startswith("-")]
    if not names:
        print(__doc__)
        return 2
    unknown = [n for n in names if n not in bench.ROWS]
    if unknown:
        raise SystemExit(f"not a benched row (bench.SUITES): {unknown}")
    if not os.path.isdir(bench.SF_DIR):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR dir not found: {bench.SF_DIR}")

    try:
        load1, load5, load15 = open("/proc/loadavg").read().split()[:3]
    except OSError as exc:
        raise SystemExit(
            f"cannot read /proc/loadavg ({exc}) — the quiet-host "
            f"precondition is unverifiable here; this tool's readings "
            f"are only meaningful on the Linux bench host"
        )
    print(f"loadavg 1/5/15-min: {load1} {load5} {load15}  "
          f"(elevated 5-min => discard the reading)", file=sys.stderr)

    pins = bench.load_pins()["pins"]
    spark = get_session("kafka_topic_dumper_spark-standalone")
    bench.warm_up(spark)

    # steal accounting (r17, same instrument as bench.py): the
    # external-contention integral over the timed window — a reading
    # with quiet q1 brackets AND near-zero steal is certified quiet
    # against both in-guest load and hypervisor contention
    mark = bench.steal_mark()
    pre = bench.time_control(spark)
    rows = {n: round(min(bench.time_row(spark, bench.ROWS[n])), 3)
            for n in names}
    post = bench.time_control(spark)
    steal_pct = bench.steal_pct(mark, bench.steal_mark())

    out = {
        "metric": "standalone_bracketed_min_of_n",
        "n_runs": bench.N_RUNS,
        "sf_dir": bench.SF_DIR,
        "loadavg": [float(load1), float(load5), float(load15)],
        "control_q1_pre": pre,
        "control_q1_post": post,
        "steal_pct": steal_pct,
        "rows": rows,
        "ratio_vs_pin": {
            n: (round(s / pins[n]["pin"], 3) if n in pins else None)
            for n, s in rows.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
