"""The shared fixed-point loop (operators/_fixpoint.py): every
iterative operator releases the caches it created, so repeated calls
in a long-lived session never accumulate CacheManager entries."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from nyc_taxi_data_prediction_pyspark_spark.operators import (
    clustering,
    dedup,
    graph,
    mining,
    windows,
)

_EDGES = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (3, 4), (4, 3), (5, 6), (6, 5)]


def _edges(spark):
    return spark.createDataFrame(_EDGES, ["src", "dst"])


def _seeds(spark):
    return spark.createDataFrame([(1,)], ["node"])


def _timed(spark):
    return spark.createDataFrame(
        [(u, v, 10 * u + v) for u, v in _EDGES], ["src", "dst", "t"]
    )


def _weighted(spark):
    return spark.createDataFrame([(u, v, u + v) for u, v in _EDGES], ["src", "dst", "w"])


def _emb(spark):
    vecs = [[1.0, 0.0], [0.99, 0.01], [0.0, 1.0], [0.02, 0.98], [0.7, 0.7], [-1.0, 0.2]]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )


def _docs(spark):
    texts = ["a b c d e", "a b c x y", "p q r s t", "p q r a b", "x y z w v"]
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def _transitions(spark):
    return spark.createDataFrame(
        [Row(i=i, j=j, n=n) for i, j, n in [(0, 1, 3), (1, 2, 2), (2, 0, 4), (1, 0, 1)]]
    )


def _series(spark):
    return spark.createDataFrame([(i, i * i) for i in range(16)], ["i", "x"])


CALLS = {
    "pagerank_fixedpoint": lambda s: graph.pagerank_fixedpoint(_edges(s)),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(_edges(s), _seeds(s)),
    "label_propagation": lambda s: graph.label_propagation(_edges(s)),
    "weighted_sssp": lambda s: graph.weighted_sssp(_weighted(s), sources=_seeds(s)),
    "temporal_reachability": lambda s: graph.temporal_reachability(
        _timed(s), sources=_seeds(s)
    ),
    "kcore_peel": lambda s: graph.kcore_peel(_edges(s), k=2),
    "bfs_levels": lambda s: graph.bfs_levels(_edges(s), sources=_seeds(s)),
    "hits_quotient": lambda s: graph.hits_quotient(_edges(s)),
    "connected_components": lambda s: dedup.connected_components(
        _edges(s), src="src", dst="dst"
    ),
    "coverage_greedy_selection": lambda s: dedup.coverage_greedy_selection(
        _docs(s), text_col="text", id_col="doc_id", k=2
    ),
    "kmeans_fixedpoint": lambda s: clustering.kmeans_fixedpoint(_emb(s), k=2),
    "kmeans_separation": lambda s: clustering.kmeans_separation(_emb(s), k=2),
    "stationary_frameloop": lambda s: mining.stationary_distribution(
        _transitions(s), from_col="i", to_col="j", count_col="n", domain_bounded=False
    ),
    "semdedup": lambda s: dedup.semdedup(_emb(s), k=2, threshold=0.99),
    "haar_energy": lambda s: windows.haar_energy(
        _series(s), index_col="i", value_col="x", levels=3
    ),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_iterative_operator_leaves_no_cache_entry(spark, name):
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    assert CALLS[name](spark).collect()
    assert cm.numCachedEntries() == before
