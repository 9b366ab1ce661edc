"""Differential test: every registry query vs its DuckDB oracle.

Mirrors the driver's check: row count + column names + order-insensitive
values (with small float tolerance — the driver rounds aggregates on
both sides already; the tolerance here only guards test flakiness).
Queries without an oracle get a rows-run smoke check.
"""

from __future__ import annotations

import math

import pytest

from kafka_topic_dumper_spark import registry
from tests.conftest import DUCK_MEMORY_LIMIT, DUCK_THREADS, SF_CORRECTNESS

RESOLVED_ORACLES = registry.resolve_oracles(SF_CORRECTNESS)
ORACLE_NAMES = sorted(RESOLVED_ORACLES)
ROWS_ONLY_NAMES = sorted(set(registry.QUERIES) - set(RESOLVED_ORACLES))


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rows(rows):
    return sorted(tuple(_normalize(v) for v in row) for row in rows)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    sdf = registry.QUERIES[name](spark, SF_CORRECTNESS)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(RESOLVED_ORACLES[name])
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s, d = _rows(spark_rows), _rows(duck_rows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_oracles_run_under_a_pinned_duckdb_budget(duck):
    """Host RAM must never decide whether an oracle passes: every
    oracle runs under the fixture's fixed memory limit and threads."""
    import duckdb

    pinned = duckdb.connect(config={"memory_limit": DUCK_MEMORY_LIMIT})
    want = pinned.sql("SELECT current_setting('memory_limit')").fetchone()[0]
    pinned.close()
    got = duck.sql(
        "SELECT current_setting('memory_limit'), current_setting('threads')"
    ).fetchone()
    assert got == (want, DUCK_THREADS)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, name):
    sdf = registry.QUERIES[name](spark, SF_CORRECTNESS)
    rows = sdf.collect()
    assert rows is not None
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_every_oracle_has_query():
    assert set(RESOLVED_ORACLES) <= set(registry.QUERIES)


def test_entry_verify_priority_covers_registry_exactly():
    """The driver-facing dict rotation must never drop or invent a
    query: the explicit priority list is exactly the registry."""
    import __spark_entry__ as e

    assert set(e._VERIFY_PRIORITY) == set(registry.QUERIES)
    assert list(e.queries()) == e._VERIFY_PRIORITY
    oracles = e.oracle_sql()
    assert list(oracles) == [n for n in e._VERIFY_PRIORITY if n in oracles]
