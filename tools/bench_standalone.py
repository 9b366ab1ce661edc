#!/usr/bin/env python3
"""Standalone min-of-N reading for one or more benched rows — the
drift convention's trip-triage measurement.

Usage::

    python tools/bench_standalone.py ROW [ROW ...]

The convention (BENCH_BASELINE.md): when a row trips the 1.5x
tripwire in a full-suite reading, the FIRST step is a standalone
min-of-3 — suite-position inflation (heap pressure, position in a
100-row session) is documented for several row classes, and the
standalone number is the comparable one.

ROW is any row in ``bench.SUITES``. The reading uses bench.py's own
mechanics: its session confs (``session.get_session``), sf dir,
warm-up (``bench.warm_up``) and timing loop (``bench.time_row``, so
each row keeps its protocol: the untimed warm call, the fresh output
directory, the single run, and the process-tree CPU-seconds next to
each wall time).

Output: one JSON line with the host key and, per row, the min wall and
CPU seconds; for a row pinned on this host also the two ratios, the
parallel efficiency and the trip label (``cpu`` / ``wall-only``) that
``tools/bench_compare.py`` would give it.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
import bench_compare  # noqa: E402
from kafka_topic_dumper_spark.session import get_session  # noqa: E402


def main(argv: list[str]) -> int:
    names = argv[1:]
    if not names:
        print(__doc__)
        return 2
    unknown = [n for n in names if n not in bench.ROWS]
    if unknown:
        raise SystemExit(f"not a benched row (bench.SUITES): {unknown}")
    if not os.path.isdir(bench.SF_DIR):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR dir not found: {bench.SF_DIR}")

    spark = get_session("kafka_topic_dumper_spark-standalone")
    bench.warm_up(spark)
    walls, cpus = {}, {}
    for n in names:
        wall, cpu = bench.time_row(spark, bench.ROWS[n])
        walls[n], cpus[n] = round(min(wall), 3), round(min(cpu), 3)

    host = bench.host_record(spark)
    key = bench.host_key(host)
    pins_doc = bench.load_pins()
    entry = pins_doc["hosts"].get(key, {"pins": {}})
    judged = {r["row"]: r for r in bench_compare.judge(
        walls, cpus, entry["pins"], host["parallelism"], pins_doc["tripwire"])}
    print(json.dumps({
        "metric": "standalone_min_of_n",
        "n_runs": bench.N_RUNS,
        "sf_dir": bench.SF_DIR,
        "host_key": key,
        "rows": {n: judged.get(n, {"row": n, "wall": walls[n], "cpu": cpus[n]})
                 for n in names},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
