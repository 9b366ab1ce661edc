"""The iteration discipline every graph engine shares: one lineage
truncation (reliable checkpoint when a checkpoint dir is set, local
otherwise) and pins scoped to the engine's own call — released when it
returns or raises, and never taken on the caller's frame."""

from __future__ import annotations

import glob
import os

import pytest

from kafka_topic_dumper_spark.functions import caching
from kafka_topic_dumper_spark.operators import graph as G

# two components (one with a sink, 7) and a weight per edge
EDGES = [
    (1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 4, 3), (4, 2, 1), (4, 7, 1),
    (5, 6, 2), (6, 5, 1),
]

ENGINES = {
    "cc_propagation": lambda e: G.connected_components(e),
    "cc_contraction": lambda e: G.connected_components(e, method="contraction"),
    "pagerank": lambda e: G.pagerank_fixed_point(e.select("src", "dst"), iters=3),
    "pagerank_dangling": lambda e: G.pagerank_fixed_point(
        e.select("src", "dst"), iters=3, redistribute_dangling=True
    ),
    "pagerank_weighted": lambda e: G.pagerank_fixed_point(e, iters=3),
    "hits": lambda e: G.hits_scores(e.select("src", "dst"), iters=2),
    "lpa": lambda e: G.label_propagation(e, "src", "dst", sweeps=2),
    "kcore": lambda e: G.kcore_membership(e, "src", "dst", k=2, rounds=2),
}


@pytest.fixture
def no_checkpoint_dir(spark):
    """Run with no checkpoint dir set, then restore the session's."""
    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    prev = jsc.checkpointDir()
    set_dir(spark.sparkContext._jvm.scala.Option.empty())
    yield
    set_dir(prev)


@pytest.mark.parametrize("engine", sorted(ENGINES))
def test_engine_takes_the_reliable_checkpoint_when_a_dir_is_set(
    spark, tmp_path, no_checkpoint_dir, engine
):
    run = ENGINES[engine]
    edges = spark.createDataFrame(EDGES, "src long, dst long, w long")
    local = sorted(run(edges).collect())
    assert local
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    assert sorted(run(edges).collect()) == local
    assert glob.glob(os.path.join(ckpt, "*", "rdd-*"))


def test_connected_components_releases_its_pin_when_it_raises(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    before = len(caching._TRACKED)
    with pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(chain, max_iter=2)
    assert len(caching._TRACKED) == before


def test_engines_leave_the_callers_cache_alone(spark):
    from pyspark import StorageLevel

    edges = spark.createDataFrame(
        [(s, d) for s, d, _ in EDGES], "src long, dst long"
    ).persist()
    edges.count()
    for run in (G.pagerank_fixed_point, G.hits_scores):
        run(edges).collect()
        assert edges.is_cached
        assert edges.storageLevel != StorageLevel.NONE
    edges.unpersist()


def test_hits_on_an_empty_edge_list_returns_an_empty_frame(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    before = len(caching._TRACKED)
    out = G.hits_scores(edges)
    assert out.columns == ["node", "role", "score"]
    assert out.collect() == []
    assert len(caching._TRACKED) == before
