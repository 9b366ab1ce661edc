"""BENCH_PINS.json invariants: the authoritative pins file stays in
lockstep with what bench.py actually times.

The round-14 compare misclassified two at-pin rows as 1.2-1.5x band
residents because the ad-hoc compare read stale first-table pins from
the BENCH_BASELINE.md prose. BENCH_PINS.json is the single source of
truth; it holds one entry per host key (cores, parallelism, RAM, scale
factor), each row pinned at a wall and a CPU value. These tests keep
every entry complete (every benched row pinned, no orphan pins) and
sane, so tools/bench_compare.py can never silently compare against a
stale, missing or foreign-host pin.

Artifact split: BENCH_DETAIL.json is the RAW latest full-suite reading,
overwritten by every bench run, so nothing here asserts on it.
BENCH_ACCEPTED.json is the reading the current pins were taken from,
and is what the no-trips invariant asserts on.

Pure-JSON tests — no SparkSession.
"""

from __future__ import annotations

import json
import os

from tests.bench_modules import REPO, load

bench = load("bench")


def _entries() -> dict[str, dict]:
    return bench.load_pins()["hosts"]


def test_every_benched_row_has_a_pin():
    benched = set(bench.ROWS)
    for key, entry in _entries().items():
        missing = benched - set(entry["pins"])
        assert not missing, (
            f"{key}: bench.py times rows with no pin in BENCH_PINS.json: "
            f"{sorted(missing)} — pin them from a full reading on that host"
        )


def test_no_orphan_pins():
    benched = set(bench.ROWS)
    for key, entry in _entries().items():
        orphans = set(entry["pins"]) - benched
        assert not orphans, (
            f"{key}: BENCH_PINS.json pins rows bench.py no longer times: "
            f"{sorted(orphans)} — remove the pin (and record why in "
            f"BENCH_BASELINE.md) when a row leaves the bench"
        )


def test_pins_are_sane():
    doc = bench.load_pins()
    assert 1.0 < doc["band_low"] < doc["tripwire"]
    assert doc["hosts"]
    for key, entry in doc["hosts"].items():
        assert bench.host_key(entry["host"]) == key
        for name, pin in entry["pins"].items():
            assert set(pin) == {"wall", "cpu"}, name
            # seconds at the entry's scale factor: nothing legitimately
            # pins at zero or at over a minute of wall
            assert 0 < pin["wall"] < 60 and pin["cpu"] > 0, name


def test_bench_accepted_matches_pin_coverage():
    """The accepted reading's rows are exactly its host's pinned set.

    Asserts on BENCH_ACCEPTED.json, the reading the pins came from,
    NOT on BENCH_DETAIL.json, which every bench run overwrites (the
    r14 version of this test asserted on BENCH_DETAIL.json and went
    red on every later tree; r14 verdict item 1).
    """
    with open(os.path.join(REPO, "BENCH_ACCEPTED.json")) as f:
        detail = json.load(f)
    benched = set(bench.load_timings(detail))
    pins = set(_entries()[bench.host_key(detail["host"])]["pins"])
    assert benched == pins, (
        f"benched-without-pin: {sorted(benched - pins)}; "
        f"pin-without-bench: {sorted(pins - benched)}"
    )


def test_compare_tool_runs_clean_on_accepted_reading(capsys):
    """The accepted reading has zero >tripwire rows against its own
    host's pins — a trip here means BENCH_ACCEPTED.json and the pins
    came apart.

    Deliberately does NOT assert on the working-tree BENCH_DETAIL.json:
    that file is the raw latest reading (often from a loaded host) and
    is report-only — compare it with
    ``python tools/bench_compare.py BENCH_DETAIL.json`` when triaging.
    """
    compare = load("bench_compare")
    path = os.path.join(REPO, "BENCH_ACCEPTED.json")
    assert compare.main(["bench_compare.py", path]) == 0
    assert f"rows compared: {len(bench.ROWS)}" in capsys.readouterr().out


def test_bench_run_recording_helpers():
    """r19 (r18 verdict items 2-3): bench.py records every timed
    repetition per row (query_runs) and derives a cold first-run
    column next to the reported warm min-of-N. Pure-helper test —
    the recording path is the same _record_run call main() routes
    every timed repetition through."""
    bench.RUN_TIMES.clear()
    assert bench._record_run("rowa", 1.2345678) == 1.2345678
    bench._record_run("rowa", 0.5)
    bench._record_run("rowb", 2.0)
    # run order preserved, rounded to ms like every reported number
    assert bench.RUN_TIMES == {"rowa": [1.235, 0.5], "rowb": [2.0]}
    # cold column = first run per row, never the min
    assert bench._cold_column(bench.RUN_TIMES) == {"rowa": 1.235, "rowb": 2.0}
    bench.RUN_TIMES.clear()
    # the summary's shuffle-partitions field survives non-int confs
    assert bench._int_or_raw("32") == 32
    assert bench._int_or_raw("auto") == "auto"


def test_value_cold_sums_the_headline_first_runs():
    """The one-line JSON's value_cold is the fresh-run regime next to
    the warm min-of-N value: the sum of the "queries" rows' FIRST runs,
    not their mins, and no other suite's rows."""
    run_times = {"q1": [2.0, 0.5, 0.4], "dump_pipeline": [1.25],
                 "v2_row": [9.0, 1.0]}
    queries = {"q1": 0.4, "dump_pipeline": 1.25}
    assert bench._cold_total(queries, run_times) == 3.25
