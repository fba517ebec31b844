"""Window composites (running sum, sessionization) + connected
components / keep-one dedup + TF-IDF."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark.operators import dedup, text as textops, windows


def ts(h, m=0):
    return dt.datetime(2026, 1, 1, h, m)


def test_running_sum_exact(spark):
    df = spark.createDataFrame(
        [(1, 1, ts(9), 0.1), (1, 2, ts(10), 0.2), (1, 3, ts(11), 0.3), (2, 4, ts(9), 5.0)],
        "user_id long, event_id long, ts timestamp, value double",
    )
    out = windows.running_sum(
        df, partition=["user_id"], order=["ts", "event_id"], value="value", out_col="r"
    )
    got = {r["event_id"]: r["r"] for r in out.collect()}
    assert got == {1: 0.1, 2: 0.3, 3: 0.6, 4: 5.0}  # decimal path: no float drift


def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, 1, ts(9, 0)),
            (1, 2, ts(9, 20)),   # within 30 min → same session
            (1, 3, ts(9, 50)),   # exactly 30 min after → same (strict >)
            (1, 4, ts(11, 0)),   # 70 min gap → new session
            (2, 5, ts(9, 0)),
        ],
        "user_id long, event_id long, ts timestamp",
    )
    out = windows.sessionize(df, partition=["user_id"], ts="ts", order_tiebreak=["event_id"])
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def _union_find(pairs):
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def _shuffled_path(n, seed):
    ids = random.Random(seed).sample(range(100, 1000), n)
    return list(zip(ids, ids[1:]))


def _random_graph(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]


@pytest.mark.parametrize(
    "pairs, max_iter, converges",
    [
        # 1-2, 2-3 chain + isolated pair 10-11 → clusters {1,2,3} and {10,11}
        pytest.param([(2, 1), (2, 3), (10, 11)], 20, True, id="chains"),
        # diameter 14: the min id needs many rounds past the init fold
        pytest.param(_shuffled_path(15, seed=3), 20, True, id="shuffled_path15"),
        pytest.param(_random_graph(60, 45, seed=7), 20, True, id="random_graph"),
        # duplicate, reversed and self pairs change nothing
        pytest.param(
            [(1, 2), (2, 1), (1, 2), (3, 2), (5, 4), (4, 5), (4, 5), (7, 7)], 20, True,
            id="duplicate_reversed",
        ),
        # a 10-node chain needs more than 3 rounds
        pytest.param([(i, i + 1) for i in range(10)], 3, False, id="longer_than_max_iter"),
    ],
)
def test_connected_components_merges_chains(spark, pairs, max_iter, converges):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    if not converges:
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(df, max_iter=max_iter)
        return
    comps = dedup.connected_components(df, max_iter=max_iter)
    assert {r["node"]: r["cluster_id"] for r in comps.collect()} == _union_find(pairs)


def test_dedup_keep_one(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(5)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (3, 4)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup.dedup_keep_one(df, pairs, id_col="doc_id").collect())
    assert kept == [0, 1, 2]  # 3 and 4 collapse into 0's cluster


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [(1, "rare common common"), (2, "common common common"), (3, "common word other")],
        "doc_id long, text string",
    )
    out = textops.tfidf_top_terms(df, k=50)
    scores = {(r["doc_id"], r["term"]): r["score"] for r in out.collect()}
    # same tf, rarer term (df=1 vs df=3) → higher score
    assert scores[(1, "rare")] > scores[(3, "common")]


def test_top_ngrams_counts_docs_not_occurrences(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["ngram"]: r["n_docs"] for r in textops.top_ngrams(df, n=2, k=10).collect()}
    assert out["a b"] == 2  # appears twice in doc 1 but counts once per doc
