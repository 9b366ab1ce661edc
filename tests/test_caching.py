"""Tracked-persist lifecycle: operators register internal persists,
release_persisted() frees them (ADVICE r1: bare persist() leaked cached
partitions across invocations in long-lived sessions). Also the
per-process scratch data: materialized() builds once per key, and
scratch_dir() hands out a new directory per call."""

from __future__ import annotations

import os

import pytest

from kafka_topic_dumper_spark.functions.caching import (
    materialized,
    operator_caches,
    release_persisted,
    scratch_dir,
    tracked_persist,
)
from kafka_topic_dumper_spark.operators import dedup
from kafka_topic_dumper_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_tracked_persist_round_trip(spark):
    df = tracked_persist(spark.range(10))
    assert df.count() == 10
    assert df.storageLevel.useMemory
    assert release_persisted() >= 1
    assert not df.storageLevel.useMemory
    assert release_persisted() == 0


def test_operator_caches_scope_releases_only_inner(spark):
    outer = tracked_persist(spark.range(5))
    with operator_caches():
        inner = tracked_persist(spark.range(7))
        assert inner.count() == 7
        assert inner.storageLevel.useMemory
    # the scope released exactly what was registered inside it
    assert not inner.storageLevel.useMemory
    assert outer.storageLevel.useMemory
    assert release_persisted() == 1
    assert not outer.storageLevel.useMemory


def test_operator_caches_releases_on_error(spark):
    try:
        with operator_caches():
            df = tracked_persist(spark.range(3))
            df.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not df.storageLevel.useMemory
    assert release_persisted() == 0


def test_operator_persists_are_released(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    dedup.minhash_lsh_dedup(docs).count()
    n = release_persisted()
    assert n >= 1
    # nothing left pinned in the cache manager by this operator
    assert release_persisted() == 0


def _writer(calls: list):
    def build(path: str) -> None:
        calls.append(path)
        os.makedirs(path)

    return build


def test_materialized_builds_once_per_key():
    calls: list = []
    key = ("test", "once")
    first = materialized(key, _writer(calls), prefix="mat_test_", leaf="data")
    again = materialized(key, _writer(calls), prefix="mat_test_", leaf="data")
    assert first == again == calls[0]
    assert len(calls) == 1
    assert os.path.basename(first) == "data"
    assert os.path.basename(os.path.dirname(first)).startswith("mat_test_")
    other = materialized(
        ("test", "other"), _writer(calls), prefix="mat_test_", leaf="data"
    )
    assert other != first and len(calls) == 2


def test_materialized_failed_build_leaves_no_entry():
    key = ("test", "fails_once")

    def fail(path: str) -> None:
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        materialized(key, fail, prefix="mat_test_", leaf="data")
    calls: list = []
    path = materialized(key, _writer(calls), prefix="mat_test_", leaf="data")
    assert calls == [path] and os.path.isdir(path)


def test_scratch_dir_is_new_on_every_call():
    a, b = scratch_dir("scratch_test_"), scratch_dir("scratch_test_")
    assert a != b
    assert os.path.isdir(a) and os.path.isdir(b)
    assert os.path.basename(a).startswith("scratch_test_")
