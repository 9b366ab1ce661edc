"""tools/bench_composite.py invariants — the steal-verified composite
acceptance fallback (r17).

The composite tool sources each row from the quietness evidence of the
window bench.py timed it in; both read the windows from bench.SUITES.
These tests check that table against BENCH_ACCEPTED.json (the
committed steal-annotated attempt-7 blob, used as the schema fixture)
and drive the gating logic with synthetic attempts on a patched
two-window table.

Pure-JSON tests — no SparkSession.
"""

from __future__ import annotations

import copy
import json
import os

import pytest

from tests.bench_modules import REPO, load

bench = load("bench")


@pytest.fixture(scope="module")
def composite():
    return load("bench_composite")


@pytest.fixture(scope="module")
def accepted():
    with open(os.path.join(REPO, "BENCH_ACCEPTED.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def pins_doc():
    with open(os.path.join(REPO, "BENCH_PINS.json")) as f:
        return json.load(f)


def _window_rows() -> dict[str, list[str]]:
    return {tag: [r.name for s in suites for r in s.rows]
            for tag, (_, suites) in bench.windows().items()}


def test_windows_partition_every_timed_row(accepted):
    """The windows must cover every row the reading timed, exactly
    once — a row in two windows would double-source, a row in none
    would always be 'uncovered'."""
    all_rows = bench.load_timings(accepted)
    seen: list[str] = []
    for rows in _window_rows().values():
        seen.extend(rows)
    assert sorted(seen) == sorted(set(seen)), "row mapped to two windows"
    assert set(seen) == set(all_rows), (
        "windows out of lockstep with the timed rows: "
        f"unmapped={sorted(set(all_rows) - set(seen))} "
        f"phantom={sorted(set(seen) - set(all_rows))}"
    )


def test_windows_match_bench_suite_lists(composite, accepted, pins_doc,
                                         tmp_path):
    """The composite of a clean reading sources exactly the rows of
    bench.SUITES, each from the window SUITES times it in."""
    p = tmp_path / "accepted.json"
    p.write_text(json.dumps(accepted))
    res = composite.build_composite([str(p)], pins_doc)
    assert set(res["composite"]) == set(bench.ROWS)
    assert res["window_sources"] == {t: ["accepted.json"]
                                     for t in bench.windows()}


def test_every_window_has_an_opener_chain():
    """The windows must chain PRE -> ... -> TAIL with no orphan opener
    tags (an opener that is neither PRE nor a window would make
    opener_ok permanently False and silently exclude its rows)."""
    windows = bench.windows()
    openers = {opener for opener, _ in windows.values()}
    assert openers - set(windows) == {bench.PRE}
    assert list(windows)[-1] == bench.TAIL


def _mini_pins(rows: dict[str, float]) -> dict:
    return {
        "tripwire": 1.5,
        "band_low": 1.2,
        "control_q1_pre_quiet_hi": 0.90,
        "control_q1_quiet": [0.42, 0.48],
        "checkpoint_q1_quiet_hi": 0.60,
        "checkpoint_early_quiet_hi": {},
        "pins": {n: {"pin": p} for n, p in rows.items()},
    }


def _mini_detail(q1: float = 0.4, steal: float = 0.1) -> dict:
    """Two-window synthetic detail: headline row 'a' + v2 row 'b'."""
    d = {
        "queries": {"a": 1.0, "dump_pipeline": 0.5},
        "queries_v2": {"b": 2.0},
        "control_q1_pre": 0.7,
        "control_q1_post": 0.45,
        "steal_pct_tail": steal,
        "steal_pct_run": steal,
        "suite_checkpoints": {
            "after_headline": {"q1": q1, "load1": 1.0, "load5": 1.0,
                               "steal_pct": steal},
            "after_v2": {"q1": q1, "load1": 1.0, "load5": 1.0,
                         "steal_pct": steal},
        },
    }
    return d


def _patch_mini_windows(composite, monkeypatch):
    """Restrict the suite table to the synthetic two-window shape."""
    Row, Suite = bench.Row, bench.Suite
    monkeypatch.setattr(bench, "SUITES", (
        Suite("after_headline", "queries", (Row("a"),)),
        Suite("after_v2", "queries_v2", (Row("b"),)),
        Suite("TAIL", "queries", (Row("dump_pipeline", bench.SINGLE),)),
    ))


def test_dirty_window_rows_are_never_sourced(composite, monkeypatch):
    _patch_mini_windows(composite, monkeypatch)
    clean = _mini_detail()
    dirty = copy.deepcopy(clean)
    dirty["suite_checkpoints"]["after_v2"]["steal_pct"] = 4.0
    dirty["queries_v2"]["b"] = 0.1  # tempting min, but stolen window
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        paths = []
        for i, doc in enumerate((dirty, clean)):
            p = os.path.join(td, f"att{i}.json")
            json.dump(doc, open(p, "w"))
            paths.append(p)
        res = composite.build_composite(
            paths, _mini_pins({"a": 1.0, "b": 2.0, "dump_pipeline": 0.5}))
    assert res["composite"]["b"] == 2.0  # from the clean attempt only
    assert not res["uncovered"] and not res["residual_trips"]


def test_residual_trip_in_clean_window_blocks(composite, monkeypatch):
    _patch_mini_windows(composite, monkeypatch)
    doc = _mini_detail()
    doc["queries"]["a"] = 1.9  # 1.9x pin in a steal-clean window
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "att.json")
        json.dump(doc, open(p, "w"))
        res = composite.build_composite(
            [p], _mini_pins({"a": 1.0, "b": 2.0, "dump_pipeline": 0.5}))
    assert [t[1] for t in res["residual_trips"]] == ["a"]


def test_unannotated_attempt_is_refused(composite, monkeypatch):
    _patch_mini_windows(composite, monkeypatch)
    doc = _mini_detail()
    del doc["steal_pct_run"]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "att.json")
        json.dump(doc, open(p, "w"))
        with pytest.raises(SystemExit, match="steal accounting"):
            composite.build_composite([p], _mini_pins({"a": 1.0}))


def test_accepted_blob_is_steal_annotated(accepted):
    """From r17 on the accepted artifact must carry the steal
    certification — it is what distinguishes 'quiet' from 'lucky'."""
    assert "steal_pct_run" in accepted
    for tag, cp in accepted["suite_checkpoints"].items():
        assert "steal_pct" in cp, tag


def test_missing_row_in_clean_attempt_is_uncovered(composite, monkeypatch):
    """A row mapped to a window but absent from every clean attempt's
    timings (truncated/partially-schema'd archive) must land in
    'uncovered', not raise ValueError from min() over an empty
    generator (ADVICE r17)."""
    _patch_mini_windows(composite, monkeypatch)
    doc = _mini_detail()
    doc["queries_v2"] = {}  # window exists and is clean, but no 'b'
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "att.json")
        json.dump(doc, open(p, "w"))
        res = composite.build_composite(
            [p], _mini_pins({"a": 1.0, "b": 2.0, "dump_pipeline": 0.5}))
    assert "b" in res["uncovered"]
    assert res["composite"]["a"] == 1.0  # other rows still composed


def _two_attempt_fixture(composite, td):
    """Attempt 0 is dirty in after_v2 (the composite-motivating shape);
    attempt 1 is clean everywhere.  Row 'a' and dump_pipeline source
    from attempt 0, row 'b' must source from attempt 1."""
    att0 = _mini_detail()
    att0["suite_checkpoints"]["after_v2"]["steal_pct"] = 4.0
    att0["queries_v2"]["b"] = 0.1  # tempting min in a stolen window
    att0["steal_pct_run"] = 2.2
    att1 = _mini_detail(q1=0.5, steal=0.2)
    att1["queries"]["a"] = 1.1
    att1["queries"]["dump_pipeline"] = 0.6
    paths = []
    for i, doc in enumerate((att0, att1)):
        p = os.path.join(td, f"att{i}.json")
        json.dump(doc, open(p, "w"))
        paths.append(p)
    return paths


def test_synthesized_window_meta_follows_sourcing_attempts(
        composite, monkeypatch):
    """The composite blob's per-window metadata must describe the
    windows the rows were SOURCED from, not attempt 1's run verbatim
    (ADVICE r17): attempt 0's after_v2 window is contaminated (4.0%
    steal), so the synthesized after_v2 checkpoint must carry attempt
    1's clean reading."""
    _patch_mini_windows(composite, monkeypatch)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        paths = _two_attempt_fixture(composite, td)
        res = composite.build_composite(
            paths, _mini_pins({"a": 1.0, "b": 2.0, "dump_pipeline": 0.5}))
        meta = composite.synthesize_window_meta(res)
    # b sourced from the clean attempt only
    assert res["provenance"]["b"] == "att1.json"
    assert res["window_sources"]["after_v2"] == ["att1.json"]
    # synthesized after_v2 metadata is att1's clean window, not att0's
    assert meta["suite_checkpoints"]["after_v2"]["steal_pct"] == 0.2
    assert meta["suite_checkpoints"]["after_v2"]["q1"] == 0.5
    # headline/TAIL sourced from att0 -> its (clean) brackets win
    assert meta["control_q1_pre"] == 0.7
    assert meta["control_q1_post"] == 0.45
    # run-level steal: worst case over sourcing attempts, documented
    assert meta["steal_pct_run"] == 2.2


def test_write_blob_passes_accepted_window_invariant(
        composite, monkeypatch, tmp_path, capsys):
    """End-to-end --write with a dirty attempt 0: the written blob
    must satisfy exactly the invariant
    test_accepted_windows_not_contaminated asserts — before this fix
    the blob carried attempt 0's 4.0%-steal after_v2 checkpoint and
    failed it."""
    _patch_mini_windows(composite, monkeypatch)
    pins = _mini_pins({"a": 1.0, "b": 2.0, "dump_pipeline": 0.5})
    (tmp_path / "BENCH_PINS.json").write_text(json.dumps(pins))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    paths = _two_attempt_fixture(composite, str(tmp_path))
    rc = composite.main(["bench_composite.py", "--write"] + paths)
    assert rc == 0, capsys.readouterr().out
    blob = json.loads((tmp_path / "BENCH_ACCEPTED.json").read_text())
    assert blob["composite_sources"]["b"] == "att1.json"
    assert blob["suite_checkpoints"]["after_v2"]["steal_pct"] == 0.2
    assert "steal_pct_run" in blob
    bad = composite.contaminated(bench.quiet_windows(blob, pins))
    assert not bad, f"written composite blob has contaminated windows: {bad}"
    # sampling-bias documentation must travel with the blob
    assert "biased slightly low" in blob["accepted_note"]


def test_accepted_windows_not_contaminated(composite, accepted, pins_doc):
    """The no-trips invariant's steal-side twin: no window of the
    accepted reading may reach the observed contamination floor
    (STEAL_HI — every r17 trip sat at >= 1.5% steal), and every
    bounding probe must be quiet. Windows in the 0.5-1.5% gray zone
    are allowed for a STRICT-gate acceptance (attempt 7 carried four
    such windows with zero trips); only composite SOURCING demands
    STEAL_LO."""
    bad = composite.contaminated(bench.quiet_windows(accepted, pins_doc))
    assert not bad, f"accepted reading has contaminated windows: {bad}"
