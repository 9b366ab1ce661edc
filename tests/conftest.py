from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from kafka_topic_dumper_spark.session import get_session

    s = get_session("kafka_topic_dumper_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


# The oracles run under a fixed DuckDB budget, so a plan that blows up
# fails on every host instead of only on hosts with less RAM.
DUCK_MEMORY_LIMIT = "4GB"
DUCK_THREADS = 4


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect(
        config={"memory_limit": DUCK_MEMORY_LIMIT, "threads": DUCK_THREADS}
    )
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECTNESS}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Operators register their internal persist()s with
    functions.caching; drop them after every test so a full suite run
    doesn't accumulate dead cached partitions (ADVICE r1)."""
    yield
    from kafka_topic_dumper_spark.functions.caching import release_persisted

    release_persisted()
