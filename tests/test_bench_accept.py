"""The CPU-seconds tripwire that replaced the idle/steal acceptance
loop: a reading is judged on the host it was taken on, whatever the
load, by ``tools/bench_compare.evaluate``. A row whose CPU exceeds its
pin by more than the tripwire trips ``cpu``; a row whose wall alone
does trips ``wall-only``. Also the /proc reader behind the CPU column
and the standalone tool on a host with no pins.

The test names are those of the retired idle/steal acceptance loop,
kept so the suite's test ids stay stable; each docstring says what the
test checks now. Synthetic readings and fakes — no SparkSession.
"""

from __future__ import annotations

import json
import os
import subprocess
import time

from tests.bench_modules import HOST, load, pins_doc, reading

compare = load("bench_compare")

PINS = pins_doc({"a": (1.0, 2.0), "b": (2.0, 4.0), "c": (0.5, 1.0)})


def _exit_code(doc: dict, tmp_path, monkeypatch, pins: dict = PINS) -> int:
    """bench_compare.main on ``doc`` against ``pins``."""
    bench = load("bench")
    monkeypatch.setattr(bench, "load_pins", lambda: pins)
    path = tmp_path / "reading.json"
    path.write_text(json.dumps(doc))
    try:
        return compare.main(["bench_compare.py", str(path)])
    except SystemExit as exc:
        return exc.code


def test_wait_for_idle_rejects_steal_elevated_window(tmp_path, monkeypatch):
    """What the idle wait guarded against — a loaded or stolen window
    doubling the wall — is now a trip labelled ``wall-only`` (CPU at
    its pin), and still exits 1."""
    doc = reading({"a": (2.0, 2.0), "b": (2.0, 4.0), "c": (0.5, 1.0)})
    ev = compare.evaluate(doc, PINS)
    assert [(r["row"], r["trip"]) for r in ev["trips"]] == [("a", "wall-only")]
    assert _exit_code(doc, tmp_path, monkeypatch) == 1


def test_wait_for_idle_times_out_on_busy_host(tmp_path, monkeypatch):
    """No waiting for an idle host: with every wall doubled by load, the
    one row whose CPU doubled is still the only ``cpu`` trip."""
    doc = reading({"a": (2.0, 2.1), "b": (4.0, 8.0), "c": (1.0, 1.1)})
    labels = {r["row"]: r["trip"] for r in compare.evaluate(doc, PINS)["rows"]}
    assert labels == {"a": "wall-only", "b": "cpu", "c": "wall-only"}
    assert _exit_code(doc, tmp_path, monkeypatch) == 1


def test_pre_control_abort_does_not_burn_attempt(monkeypatch):
    """bench.tree_cpu reads /proc per process: CPU burnt in this
    process shows under its pid, and a pid that is gone by the time its
    stat file is read is skipped rather than raising."""
    bench = load("bench")
    me = os.getpid()
    before = bench.tree_cpu()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert bench.tree_cpu()[me] - before[me] >= 0.2
    gone = subprocess.Popen(["true"])
    gone.wait()
    monkeypatch.setattr(bench, "tree",
                        lambda: [(me, "driver"), (gone.pid, "pyworker")])
    assert list(bench.tree_cpu()) == [me]


def test_failed_suite_run_still_burns_attempt(monkeypatch, tmp_path, capsys):
    """tools/bench_standalone.py on a host with no pins entry still
    reports each row's min wall and CPU, with no ratios or trip label:
    there is no pin to judge it against."""
    bench = load("bench")
    standalone = load("bench_standalone")
    host = dict(HOST, nproc=32, parallelism=32)
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "warm_up", lambda spark: None)
    monkeypatch.setattr(bench, "time_row",
                        lambda spark, row: ([0.5, 0.25], [2.0, 1.5]))
    monkeypatch.setattr(bench, "host_record", lambda spark: host)
    monkeypatch.setattr(standalone, "get_session", lambda name: None)
    assert standalone.main(["bench_standalone.py", "q1_pricing_summary"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["host_key"] == bench.host_key(host)
    assert out["rows"] == {"q1_pricing_summary": {
        "row": "q1_pricing_summary", "wall": 0.25, "cpu": 1.5}}
