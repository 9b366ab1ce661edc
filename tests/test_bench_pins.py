"""BENCH_PINS.json invariants: the authoritative pins file stays in
lockstep with what bench.py actually times.

The round-14 compare misclassified two at-pin rows as 1.2-1.5x band
residents because the ad-hoc compare read stale first-table pins from
the BENCH_BASELINE.md prose. BENCH_PINS.json is the single source of
truth from round 14 on; these tests keep it complete (every benched
row pinned, no orphan pins) and sane, so tools/bench_compare.py can
never silently compare against a stale or missing pin.

Artifact split (round 15, r14 verdict item 1): BENCH_DETAIL.json is
the RAW latest full-suite reading — the driver overwrites it with a
loaded-host reading every round, so nothing here asserts on it.
BENCH_ACCEPTED.json is the builder's accepted quiet reading — written
only when the bracketing controls confirm a quiet host — and is what
the no-trips invariant asserts on.

Pure-JSON tests — no SparkSession.
"""

from __future__ import annotations

import json
import os

from tests.bench_modules import REPO, load

bench = load("bench")


def _load_pins() -> dict:
    with open(os.path.join(REPO, "BENCH_PINS.json")) as f:
        return json.load(f)


def _bench_row_names() -> set[str]:
    """Every query name bench.py times: the rows of its SUITES table."""
    return {r.name for s in bench.SUITES for r in s.rows}


def test_every_benched_row_has_a_pin():
    pins = set(_load_pins()["pins"])
    benched = _bench_row_names()
    missing = benched - pins
    assert not missing, (
        f"bench.py times rows with no accepted pin in BENCH_PINS.json: "
        f"{sorted(missing)} — add the pin in the same commit that "
        f"accepts the first quiet reading"
    )


def test_no_orphan_pins():
    pins = set(_load_pins()["pins"])
    benched = _bench_row_names()
    orphans = pins - benched
    assert not orphans, (
        f"BENCH_PINS.json pins rows bench.py no longer times: "
        f"{sorted(orphans)} — remove the pin (and record why in "
        f"BENCH_BASELINE.md) when a row leaves the bench"
    )


def test_pins_are_sane():
    doc = _load_pins()
    assert 1.0 < doc["band_low"] < doc["tripwire"]
    for name, entry in doc["pins"].items():
        assert isinstance(entry["pin"], (int, float)) and entry["pin"] > 0, name
        # pins are seconds at sf0.1 on local[32]; nothing legitimately
        # pins at over a minute (realvocab, the slowest, is ~23 s)
        assert entry["pin"] < 60, name
        assert entry["round"].startswith("r"), name


def test_bench_accepted_matches_pin_coverage():
    """The accepted reading's rows are exactly the pinned set.

    Asserts on BENCH_ACCEPTED.json — the builder-only accepted quiet
    reading — NOT on BENCH_DETAIL.json, which the driver overwrites
    with a loaded-host reading every round (the r14 version of this
    test asserted on BENCH_DETAIL.json and went red on every
    post-driver tree; r14 verdict item 1).
    """
    with open(os.path.join(REPO, "BENCH_ACCEPTED.json")) as f:
        detail = json.load(f)
    benched: set[str] = set()
    for key, val in detail.items():
        if key.startswith("queries") and isinstance(val, dict):
            benched |= {k for k, v in val.items() if isinstance(v, (int, float))}
    pins = set(_load_pins()["pins"])
    assert benched == pins, (
        f"benched-without-pin: {sorted(benched - pins)}; "
        f"pin-without-bench: {sorted(pins - benched)}"
    )


def test_compare_tool_runs_clean_on_accepted_reading():
    """The accepted quiet reading has zero >tripwire rows, by definition
    of 'accepted' — a trip here means someone updated BENCH_ACCEPTED.json
    with a reading that the drift convention says needs triage first.

    Deliberately does NOT assert on the working-tree BENCH_DETAIL.json:
    that file is the driver's raw latest reading (often from a loaded
    host) and is report-only — compare it with
    ``python tools/bench_compare.py BENCH_DETAIL.json`` when triaging.
    """
    with open(os.path.join(REPO, "BENCH_ACCEPTED.json")) as f:
        timings = bench.load_timings(json.load(f))
    assert len(timings) == len(_load_pins()["pins"])
    pins = _load_pins()["pins"]
    trips = [n for n, s in timings.items() if s / pins[n]["pin"] > 1.5]
    assert not trips, trips


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
