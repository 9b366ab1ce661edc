"""tools/bench_accept.py attempt accounting — pure-subprocess-stub
tests, no SparkSession and no real bench run.

The loop's contract (BENCH_BASELINE.md acceptance-campaign protocol):
only runs that actually executed the suite consume attempt slots.
Never-idle waits and pre-control aborts (bench.py exit 3, ~1 min, no
suite ran) are SKIPS with their own consecutive caps (ADVICE r17 — a
spiky host could otherwise exhaust max_attempts without ever running
a bench).
"""

from __future__ import annotations

import types

import pytest

from tests.bench_modules import load


@pytest.fixture()
def accept():
    return load("bench_accept")


def _stub_runs(accept, monkeypatch, returncodes: list[int]):
    """Make wait_for_idle instant and subprocess.run pop canned exit
    codes; count how many bench launches happened."""
    monkeypatch.setattr(accept, "wait_for_idle", lambda: True)
    monkeypatch.setattr(accept.time, "sleep", lambda s: None)
    launches = []

    def fake_run(cmd, **kwargs):
        rc = returncodes[min(len(launches), len(returncodes) - 1)]
        launches.append(rc)
        return types.SimpleNamespace(returncode=rc, stdout="", stderr="")

    monkeypatch.setattr(accept.subprocess, "run", fake_run)
    return launches


def test_pre_control_abort_does_not_burn_attempt(accept, monkeypatch,
                                                 capsys):
    """Three consecutive exit-3 pre-control aborts terminate via the
    skip cap with ZERO attempt slots consumed (ADVICE r17)."""
    launches = _stub_runs(accept, monkeypatch, [3])
    rc = accept.main(["bench_accept.py", "5"])
    out = capsys.readouterr().out
    assert rc == 1
    assert len(launches) == 3  # capped at 3 consecutive aborts
    assert "attempts used 0/5" in out
    assert "3 consecutive pre-control aborts" in out


class _FakeTime:
    """Deterministic clock: sleep() advances time() — keeps the
    bounded-wait loops finite without real waiting."""

    def __init__(self):
        self.t = 0.0

    def time(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += s


def test_wait_for_idle_rejects_steal_elevated_window(accept, monkeypatch,
                                                     capsys):
    """Idle loadavg is not enough (r18): a steal-elevated probe must
    send the loop back to waiting; a clean probe greenlights."""
    ft = _FakeTime()
    monkeypatch.setattr(accept, "time", ft)
    monkeypatch.setattr(accept, "_load", lambda: (0.1, 0.2))
    steals = iter([2.5, 0.1])

    def probe(window_s=accept.STEAL_PROBE_S):
        ft.sleep(window_s)
        return next(steals)

    monkeypatch.setattr(accept, "_steal_probe", probe)
    assert accept.wait_for_idle() is True
    out = capsys.readouterr().out
    assert "steal 2.5%" in out and "re-waiting" in out
    assert "steal 0.1%" in out


def test_wait_for_idle_times_out_on_busy_host(accept, monkeypatch):
    ft = _FakeTime()
    monkeypatch.setattr(accept, "time", ft)
    monkeypatch.setattr(accept, "_load", lambda: (5.0, 5.0))
    monkeypatch.setattr(
        accept, "_steal_probe",
        lambda window_s=30: (_ for _ in ()).throw(
            AssertionError("probe must not run on a loaded host")))
    assert accept.wait_for_idle() is False


def test_failed_suite_run_still_burns_attempt(accept, monkeypatch,
                                              capsys):
    """Non-3 nonzero exits ran (or tried to run) the suite — they keep
    consuming attempt slots and reset the abort-skip counter."""
    launches = _stub_runs(accept, monkeypatch, [3, 1])
    rc = accept.main(["bench_accept.py", "2"])
    out = capsys.readouterr().out
    assert rc == 1
    # one abort skip (no slot), then two real failed attempts
    assert launches == [3, 1, 1]
    assert "skip 1/3" in out
    assert "attempt 2: bench.py exit 1" in out
