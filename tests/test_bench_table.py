"""bench.py's suite table and its one timing loop, plus the standalone
triage tool that reads both — fake thunks and a fake clock, no
SparkSession.

SUITES is the only place that says which rows are timed, in which
order, under which recording key and with which protocol; time_row is
the only loop that times them, recording wall and CPU per call.
"""

from __future__ import annotations

import json
import os

import pytest

from kafka_topic_dumper_spark import registry
from kafka_topic_dumper_spark.functions import caching
from tests.bench_modules import load

bench = load("bench")


def _clock(*ticks: float):
    it = iter(ticks)
    return lambda: next(it)


def _counting_row(protocol: str, calls: list, fail: bool = False):
    def prepare(spark):
        def call(*path):
            calls.append(path)
            if fail:
                raise RuntimeError("thunk failed")
        return call
    return bench.Row("fake", protocol, prepare)


@pytest.fixture(autouse=True)
def three_runs(monkeypatch):
    monkeypatch.setattr(bench, "N_RUNS", 3)


def test_min_of_n_records_every_run_in_order():
    calls: list = []
    row = _counting_row(bench.MIN_OF_N, calls)
    times = bench.time_row(None, row,
                           clock=_clock(0.0, 1.0, 10.0, 10.5, 20.0, 22.0),
                           # run 1: pid 2 exits (adds nothing, not -5);
                           # run 2: pid 3 starts (adds all its time)
                           cpu=_clock({1: 0.0, 2: 5.0}, {1: 4.0},
                                      {1: 4.0}, {1: 5.0, 3: 1.0},
                                      {1: 5.0, 3: 1.0}, {1: 13.0, 3: 1.0}))
    assert times == ([1.0, 0.5, 2.0], [4.0, 2.0, 8.0])
    assert calls == [(), (), ()]


def test_warm_first_makes_n_plus_one_calls_and_times_n():
    """The untimed warm call reads no clock; each timed call is
    bracketed by the CPU reading outside the wall one, so reading
    /proc is never billed as wall time."""
    events: list = []

    def tick(kind, value):
        return lambda: events.append(kind) or value(len(events))

    row = bench.Row("fake", bench.WARM_FIRST,
                    lambda spark: lambda: events.append("call"))
    times = bench.time_row(None, row, clock=tick("clock", float),
                           cpu=tick("cpu", lambda n: {1: 10.0 * n}))
    assert events == ["call"] + ["cpu", "clock", "call", "clock", "cpu"] * 3
    assert times == ([2.0] * 3, [40.0] * 3)


@pytest.mark.parametrize("protocol,runs", [(bench.FRESH_DIR, 3),
                                           (bench.SINGLE, 1)])
def test_fresh_dir_protocols_get_a_new_directory_per_run(protocol, runs):
    dirs = []

    def prepare(spark):
        def call(path):
            # the parent exists and is empty: the output path is free
            assert os.listdir(os.path.dirname(path)) == []
            dirs.append(os.path.dirname(path))
        return call

    times = bench.time_row(None, bench.Row("fake", protocol, prepare),
                           clock=_clock(*range(2 * runs)),
                           cpu=_clock(*({1: 3.0 * t} for t in range(2 * runs))))
    assert times == ([1] * runs, [3.0] * runs)
    assert len(set(dirs)) == runs
    assert not any(os.path.exists(d) for d in dirs)


def test_fresh_dir_is_removed_when_the_call_raises():
    calls: list = []
    row = _counting_row(bench.FRESH_DIR, calls, fail=True)
    with pytest.raises(RuntimeError, match="thunk failed"):
        bench.time_row(None, row, clock=_clock(0.0, 1.0))
    assert len(calls) == 1
    assert not os.path.exists(os.path.dirname(calls[0][0]))


class _FakeFrame:
    storageLevel = caching.StorageLevel.NONE  # not cached by anyone else

    def __init__(self):
        self.persisted = False

    def persist(self, level):
        self.persisted = True
        return self

    def unpersist(self):
        self.persisted = False


def test_each_row_releases_its_tracked_persists():
    """One operator_caches scope per row: persists pinned during the
    row's runs survive across them and are released when it ends."""
    frames = []

    def prepare(spark):
        def call():
            frames.append(caching.tracked_persist(_FakeFrame()))
            assert all(f.persisted for f in frames)
        return call

    mark = len(caching._TRACKED)
    bench.time_row(None, bench.Row("fake", prepare=prepare),
                   clock=_clock(*range(6)))
    assert len(frames) == 3
    assert not any(f.persisted for f in frames)
    assert len(caching._TRACKED) == mark


def _placement() -> dict[str, tuple[str, str]]:
    return {r.name: (s.key, r.protocol)
            for s in bench.SUITES for r in s.rows}


def test_irregular_rows_keep_their_window_key_and_protocol():
    where = _placement()
    assert where["dump_pipeline"] == ("queries", bench.SINGLE)
    for build in ("similarity_topk_lsh_stored_build",
                  "similarity_topk_ivf_stored_build"):
        assert where[build] == ("queries_v3", bench.FRESH_DIR)
    assert where["dedup_minhash_lsh_prod"][0] == "queries_prod"
    assert where["dedup_editdist_join_realvocab"][0] == (
        "queries_editdist_realvocab")
    assert where["dedup_editdist_prefix_stored"] == (
        "queries_editdist_prefix_stored", bench.WARM_FIRST)
    assert where["dedup_editdist_prefix_stored_build"] == (
        "queries_editdist_prefix_stored", bench.FRESH_DIR)


def test_suite_table_is_well_formed():
    """Each row appears once; a row without a thunk is a registry
    query; each protocol is one time_row knows; the headline rows
    open the run and dump_pipeline closes it."""
    names = [r.name for s in bench.SUITES for r in s.rows]
    assert len(names) == len(set(names)) == len(bench.ROWS)
    protocols = {bench.MIN_OF_N, bench.WARM_FIRST, bench.FRESH_DIR,
                 bench.SINGLE}
    for s in bench.SUITES:
        assert s.key == "queries" or s.key.startswith("queries_")
        for r in s.rows:
            assert r.protocol in protocols, r
            assert r.prepare is not None or r.name in registry.QUERIES, r
    assert names[0] == "q1_pricing_summary" and names[-1] == "dump_pipeline"


def test_standalone_accepts_every_pinned_row(monkeypatch, tmp_path, capsys):
    """tools/bench_standalone.py triages any benched row, each timed
    by time_row with that row's own protocol, and judges it against
    its host's pins."""
    standalone = load("bench_standalone")
    pins_doc = bench.load_pins()
    key, entry = next(iter(pins_doc["hosts"].items()))
    pinned = sorted(entry["pins"])
    timed = []

    def fake_time_row(spark, row):
        timed.append(row)
        return [0.5, 0.25], [2.0, 1.5]

    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "warm_up", lambda spark: None)
    monkeypatch.setattr(bench, "time_row", fake_time_row)
    monkeypatch.setattr(bench, "host_record", lambda spark: entry["host"])
    monkeypatch.setattr(standalone, "get_session", lambda name: None)
    assert standalone.main(["bench_standalone.py", *pinned]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["host_key"] == key and sorted(out["rows"]) == pinned
    for n, r in out["rows"].items():
        assert (r["wall"], r["cpu"]) == (0.25, 1.5)
        assert r["cpu_ratio"] == round(1.5 / entry["pins"][n]["cpu"], 3)
    # every row keeps its protocol
    assert {r.name: r.protocol for r in timed} == {
        n: bench.ROWS[n].protocol for n in pinned}
    assert bench.ROWS["dedup_editdist_prefix_stored"].protocol == \
        bench.WARM_FIRST


def test_standalone_rejects_unbenched_rows():
    standalone = load("bench_standalone")
    with pytest.raises(SystemExit, match="not a benched row"):
        standalone.main(["bench_standalone.py", "no_such_row"])


# The ids are those of the retired quiet-ceiling cases, kept so the
# suite's test ids stay stable; each now names one reading the gate
# cannot key to pins.
@pytest.mark.parametrize("missing", [
    pytest.param("host", id="control_q1_pre_quiet_hi"),
    pytest.param("query_cpu", id="control_q1_quiet"),
    pytest.param("pins entry", id="checkpoint_q1_quiet_hi"),
    pytest.param("BENCH_r19.json", id="checkpoint_early_quiet_hi"),
])
def test_missing_quiet_ceiling_fails_loudly(missing, capsys):
    """A reading with no host record, no per-row CPU or no pins entry
    for its host, or a committed pre-CPU reading, is refused with exit
    2 and a message naming what is missing; it is never half-judged."""
    compare = load("bench_compare")
    name = missing if missing.endswith(".json") else "BENCH_ACCEPTED.json"
    with open(os.path.join(bench.REPO, name)) as f:
        doc = json.load(f)
    if missing in ("host", "query_cpu"):
        del doc[missing]
    elif missing == "pins entry":
        doc["host"] = dict(doc["host"], nproc=32, parallelism=32)
    with pytest.raises(SystemExit) as exc:
        compare.evaluate(doc, bench.load_pins())
    want = (bench.host_key(doc["host"]) if missing == "pins entry"
            else "no host/CPU record")
    assert exc.value.code == 2 and want in capsys.readouterr().err
