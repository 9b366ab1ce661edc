"""The host-keyed pins and the accepted reading they were taken from,
which replaced the steal-clean composite: BENCH_ACCEPTED.json is one
full reading on the pinned host, and no pin of its BENCH_PINS.json
entry sits below that reading's own min wall or min CPU.

The names are the retired composite's, kept so the suite's test ids
stay stable. Pure-JSON tests — no SparkSession.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.bench_modules import HOST, REPO, load, pins_doc, reading

bench = load("bench")
compare = load("bench_compare")

PINS = pins_doc({"a": (1.0, 2.0), "b": (2.0, 4.0)})


@pytest.fixture(scope="module")
def accepted():
    with open(os.path.join(REPO, "BENCH_ACCEPTED.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def entry(accepted):
    return bench.load_pins()["hosts"][bench.host_key(accepted["host"])]


def test_windows_partition_every_timed_row(accepted):
    """Every timed row has one CPU record per timed run, and a min."""
    runs, cpu_runs = accepted["query_runs"], accepted["query_cpu_runs"]
    assert set(cpu_runs) == set(runs) == set(bench.load_timings(accepted))
    assert {n: len(c) for n, c in cpu_runs.items()} == {
        n: len(w) for n, w in runs.items()}
    assert accepted["query_cpu"] == {n: min(c) for n, c in cpu_runs.items()}


def test_windows_match_bench_suite_lists(accepted):
    """Each recording key holds exactly its bench.SUITES rows."""
    for key, names in bench.rows_by_key().items():
        assert sorted(accepted[key]) == sorted(names), key


def test_every_window_has_an_opener_chain(accepted, entry):
    """The entry's key is the host key of its own host record, which is
    the accepted reading's host."""
    assert entry["host"] == accepted["host"]
    assert set(accepted["host"]) == {"nproc", "ram_gb", "parallelism", "sf"}


def test_dirty_window_rows_are_never_sourced():
    """A row in the 1.2-1.5x band keeps its pin: a band resident, not a
    trip."""
    ev = compare.evaluate(reading({"a": (1.3, 2.6), "b": (2.0, 4.0)}), PINS)
    assert not ev["trips"] and [r["row"] for r in ev["band"]] == ["a"]


def test_residual_trip_in_clean_window_blocks():
    """One CPU trip among rows at their pins still trips the reading."""
    ev = compare.evaluate(reading({"a": (1.0, 2.0), "b": (3.1, 6.2)}), PINS)
    assert [(r["row"], r["trip"]) for r in ev["trips"]] == [("b", "cpu")]


def test_unannotated_attempt_is_refused():
    """A row the host's entry does not pin (one added since the re-pin)
    is listed as unpinned and not judged: it can neither trip nor
    pass."""
    ev = compare.evaluate(reading({"a": (1.0, 2.0), "new": (9.0, 9.0)}),
                          PINS)
    assert ev["unpinned"] == ["new"] and not ev["trips"]
    assert [r["row"] for r in ev["rows"]] == ["a"]


def test_accepted_blob_is_steal_annotated(accepted):
    """The accepted reading carries what the gate keys and judges on."""
    assert accepted["host"]["sf"] == accepted["sf"]
    assert accepted["host"]["parallelism"] == accepted["parallelism"]
    assert all(c > 0 for c in accepted["query_cpu"].values())


def test_missing_row_in_clean_attempt_is_uncovered():
    """A pinned row the reading lacks is listed as absent, not judged
    and not a crash."""
    ev = compare.evaluate(reading({"a": (1.0, 2.0)}), PINS)
    assert ev["absent"] == ["b"] and [r["row"] for r in ev["rows"]] == ["a"]


def test_synthesized_window_meta_follows_sourcing_attempts():
    """Parallel efficiency is CPU / (wall x the reading's parallelism)."""
    ev = compare.evaluate(reading({"a": (1.0, 2.0), "b": (2.0, 4.0)}), PINS)
    assert {r["row"]: r["efficiency"] for r in ev["rows"]} == {
        "a": round(2.0 / (1.0 * HOST["parallelism"]), 3),
        "b": round(4.0 / (2.0 * HOST["parallelism"]), 3)}


def test_write_blob_passes_accepted_window_invariant(tmp_path, monkeypatch,
                                                     capsys):
    """A reading written by bench.write_json reads back through the
    compare tool, and its own values as pins give exit 0."""
    rows = {"a": (1.0, 2.0), "b": (2.0, 4.0)}
    bench.write_json(str(tmp_path / "r.json"), reading(rows))
    monkeypatch.setattr(bench, "load_pins", lambda: pins_doc(rows))
    assert compare.main(["bench_compare.py", str(tmp_path / "r.json")]) == 0
    assert "trips: 0 (cpu 0, wall-only 0)" in capsys.readouterr().out


def test_accepted_windows_not_contaminated(accepted, entry):
    """No pin sits below the accepted reading's own min wall or min
    CPU: the reading the pins were taken from never trips them."""
    walls = bench.load_timings(accepted)
    assert set(entry["pins"]) == set(walls)
    for n, pin in entry["pins"].items():
        assert pin["wall"] >= walls[n], n
        assert pin["cpu"] >= accepted["query_cpu"][n], n
