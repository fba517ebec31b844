"""Fixed-point PageRank (operators/graph.py) and the two-phase grouped
rank / closed-form ntile (operators/windows.py) — the round-2 additions
that make iterative and skewed-group algorithms oracle-checkable."""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from nyc_taxi_data_prediction_pyspark_spark.catalog import load
from nyc_taxi_data_prediction_pyspark_spark.operators import graph, windows


def _pagerank_reference(edges, iters=3, damping_pct=85):
    """Driver-side integer recurrence — the spec the DataFrame loop
    must match exactly."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    n = len(nodes)
    base = graph.SCALE // n
    tel = ((100 - damping_pct) * base) // 100
    pr = {v: base for v in nodes}
    for _ in range(iters):
        recv = {v: 0 for v in nodes}
        for u, v in edges:
            recv[v] += pr[u] // out[u]
        pr = {v: tel + (damping_pct * recv[v]) // 100 for v in nodes}
    return pr


def test_pagerank_matches_integer_reference(spark):
    edges = [
        ("a", "b"), ("b", "a"),          # 2-cycle
        ("a", "c"), ("c", "a"),
        ("c", "d"), ("d", "c"),
        ("b", "d"), ("d", "b"),
        ("e", "a"), ("a", "e"),          # pendant on the hub
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["pr"]
        for r in graph.pagerank_fixedpoint(df, iters=3).collect()
    }
    ref = _pagerank_reference(edges, iters=3)
    assert got == ref
    # global PageRank is personalized PageRank with every node a source
    every_node = spark.createDataFrame([(v,) for v in ref], ["node"])
    ppr = {
        r["node"]: r["pr"]
        for r in graph.personalized_pagerank(df, every_node, iters=3).collect()
    }
    assert ppr == ref


def test_pagerank_symmetric_graph_conserves_mass(spark):
    # symmetric edges ⇒ no dangling nodes ⇒ only floor-rounding loss:
    # strictly less than 1 pico-unit per node per division step.
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    total = (
        graph.pagerank_fixedpoint(df, iters=3)
        .agg(F.sum("pr").alias("t"))
        .collect()[0]["t"]
    )
    n, iters, steps_per_iter = 3, 3, 3  # base div, pr div deg, two div-100s
    assert total <= graph.SCALE
    assert total >= graph.SCALE - n * iters * steps_per_iter * 100


def _ppr_reference(edges, sources, iters=3, damping_pct=85):
    """Driver-side integer personalized-PageRank recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges} | set(sources))
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    s = set(sources)
    base = graph.SCALE // len(s)
    tel = ((100 - damping_pct) * base) // 100
    pr = {v: (base if v in s else 0) for v in nodes}
    for _ in range(iters):
        recv = {v: 0 for v in nodes}
        for u, v in edges:
            recv[v] += pr[u] // out[u]
        pr = {
            v: (tel if v in s else 0) + (damping_pct * recv[v]) // 100 for v in nodes
        }
    return pr


def test_personalized_pagerank_matches_integer_reference(spark):
    edges = [
        ("a", "b"), ("b", "a"),
        ("a", "c"), ("c", "a"),
        ("c", "d"), ("d", "c"),
        ("b", "d"), ("d", "b"),
        ("e", "a"), ("a", "e"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    srcs = spark.createDataFrame([("a",), ("e",)], ["node"])
    got = {
        r["node"]: r["pr"]
        for r in graph.personalized_pagerank(df, srcs, iters=3).collect()
    }
    assert got == _ppr_reference(edges, ["a", "e"], iters=3)


def test_personalized_pagerank_isolated_seed_keeps_teleport_mass(spark):
    """A seed with no edges still appears with exactly its teleport
    share each round — the union-into-nodes contract."""
    edges = [("a", "b"), ("b", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    srcs = spark.createDataFrame([("z",)], ["node"])  # not in the graph
    got = {
        r["node"]: r["pr"]
        for r in graph.personalized_pagerank(df, srcs, iters=2).collect()
    }
    ref = _ppr_reference(edges, ["z"], iters=2)
    assert got == ref
    tel = ((100 - 85) * (graph.SCALE // 1)) // 100
    assert got["z"] == tel  # teleport only: z receives no link mass
    assert got["a"] == 0 and got["b"] == 0  # no mass ever reaches the graph


def test_grouped_rank_two_phase_equals_single_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "value")
    two = windows.grouped_rank_two_phase(
        ev, ["user_id"], ["value", "event_id"], out_col="rk", num_partitions=7
    )
    one = windows.grouped_rank_two_phase(
        ev, ["user_id"], ["value", "event_id"], out_col="rk", two_phase=False
    )
    assert two.select("event_id", "rk").exceptAll(one.select("event_id", "rk")).count() == 0
    assert one.select("event_id", "rk").exceptAll(two.select("event_id", "rk")).count() == 0


def test_grouped_rank_group_size_col_matches_groupby(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    ranked = windows.grouped_rank_two_phase(
        ev, ["user_id"], ["event_id"], out_col="rk", group_size_col="n", num_partitions=5
    )
    got = {
        r["user_id"]: r["n"]
        for r in ranked.select("user_id", "n").distinct().collect()
    }
    want = {
        r["user_id"]: r["c"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want
    # and the max rank per group IS the group size
    mx = {
        r["user_id"]: r["m"]
        for r in ranked.groupBy("user_id").agg(F.max("rk").alias("m")).collect()
    }
    assert mx == want


def test_ntile_from_rank_equals_window_ntile(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    w = W.partitionBy("user_id").orderBy("event_id")
    native = ev.withColumn("t", F.ntile(5).over(w))
    sizes = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    closed = (
        ev.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .join(sizes, "user_id")
        .withColumn("t", windows.ntile_from_rank("rk", "n", 5))
    )
    diff = (
        native.select("event_id", "t")
        .exceptAll(closed.select("event_id", "t"))
        .count()
    )
    assert diff == 0


def test_ntile_from_rank_tiny_groups(spark):
    # n < k: every row is its own bucket (ntile gives buckets of ≤1 row)
    rows = [("g1", 1, 2), ("g1", 2, 2), ("g2", 1, 1)]
    df = spark.createDataFrame(rows, ["g", "rk", "n"])
    got = {
        (r["g"], r["rk"]): r["t"]
        for r in df.withColumn("t", windows.ntile_from_rank("rk", "n", 3)).collect()
    }
    assert got == {("g1", 1): 1, ("g1", 2): 2, ("g2", 1): 1}


def _hits_reference(edges, iters=2):
    """Plain-Python replay of graph.hits_quotient's integer recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    h = {v: graph.SCALE // n for v in nodes}
    a = {}
    for _ in range(iters):
        raw_a = {}
        for u, v in edges:
            raw_a[v] = raw_a.get(v, 0) + h.get(u, 0)
        qa = max(sum(raw_a.values()) // graph.SCALE, 1)
        a = {v: x // qa for v, x in raw_a.items()}
        raw_h = {}
        for u, v in edges:
            raw_h[u] = raw_h.get(u, 0) + a.get(v, 0)
        qh = max(sum(raw_h.values()) // graph.SCALE, 1)
        h = {u: x // qh for u, x in raw_h.items()}
    return {v: (h.get(v, 0), a.get(v, 0)) for v in nodes}


def test_hits_quotient_matches_integer_reference(spark):
    edges = [
        (1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12),
        (4, 12), (10, 1),              # a back edge: 10 is also a hub
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in graph.hits_quotient(df, iters=2).collect()
    }
    assert got == _hits_reference(edges, iters=2)


def test_hits_bipartite_authority_ordering(spark):
    # supplier 10 is endorsed by every customer, 12 by one: auth(10) > auth(12)
    edges = [(1, 10), (2, 10), (3, 10), (3, 12)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    res = {r["node"]: r for r in graph.hits_quotient(df, iters=2).collect()}
    assert res[10]["auth"] > res[12]["auth"]
    # pure-customer nodes have zero authority (no in-edges)
    assert res[1]["auth"] == 0 and res[1]["hub"] > 0


def test_hits_setup_runs_no_dataframe_action(spark, monkeypatch):
    """The initial mass SCALE div N is a broadcast 1-row node count, not
    a ``count()`` action: building the HITS frame calls no
    DataFrame action.  (Its lazy checkpoints still run their shuffle
    stages under AQE, so the build's job count cannot be 0.)"""
    df = spark.createDataFrame([(1, 10), (2, 10), (3, 11)], ["src", "dst"])

    def refuse(*args, **kwargs):
        raise AssertionError("DataFrame action while building hits_quotient")

    for action in ("collect", "count", "first", "head", "isEmpty", "take", "toPandas"):
        monkeypatch.setattr(type(df), action, refuse)
    out = graph.hits_quotient(df, iters=2)
    monkeypatch.undo()
    assert out.count() == 5


def _lpa_reference(edges, iters=3):
    """Plain-Python synchronous LPA, ties -> smallest label."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    lab = {v: v for v in nodes}
    for _ in range(iters):
        new = {}
        for v in nodes:
            freq = {}
            for s, d in edges:
                if s == v:
                    freq[lab[d]] = freq.get(lab[d], 0) + 1
            if freq:
                new[v] = min(freq, key=lambda L: (-freq[L], L))
            else:
                new[v] = lab[v]
        lab = new
    return lab


def test_label_propagation_matches_reference(spark):
    # two triangles joined by one bridge edge
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(7, 8), (8, 9), (7, 9)]
    bridge = [(3, 7)]
    und = tri1 + tri2 + bridge
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(df, iters=3).collect()
    }
    assert got == _lpa_reference(edges, iters=3)
    # the two triangles must not merge through the single bridge
    assert len({got[1], got[2], got[3]} & {got[7], got[8], got[9]}) == 0


def test_label_propagation_isolated_node_keeps_own_label(spark):
    edges = [(1, 2), (2, 1), (5, 5)]  # 5 self-loop: neighbor = itself
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(df, iters=2).collect()
    }
    assert got[5] == 5
    # a lone symmetric pair OSCILLATES under synchronous updates (the
    # documented sync-LPA behavior: each adopts the other's label every
    # round); 2 rounds returns each to its own label — and the Python
    # reference must agree, which is the determinism contract.
    assert got == _lpa_reference(edges, iters=2)
    assert got[1] == 1 and got[2] == 2


def test_degree_assortativity_matches_reference(spark):
    # star graph: hub 0 -> leaves (disassortative) vs a 4-cycle (regular
    # -> zero variance on both sides -> NULL coefficient)
    star = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(star, ["src", "dst"])
    row = graph.degree_assortativity(df).collect()[0]
    # Python reference over the same directed edge list
    import math

    edges = sorted(set(star))
    outd, ind = {}, {}
    for s, d in edges:
        outd[s] = outd.get(s, 0) + 1
        ind[d] = ind.get(d, 0) + 1
    xs = [outd[s] for s, _ in edges]
    ys = [ind[d] for _, d in edges]
    n = len(edges)
    num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    vx = n * sum(x * x for x in xs) - sum(xs) ** 2
    vy = n * sum(y * y for y in ys) - sum(ys) ** 2
    want = num / (math.sqrt(vx) * math.sqrt(vy))
    assert row["n_edges"] == n
    assert abs(row["assortativity"] - want) < 1e-12
    assert want < 0  # a star is disassortative

    cyc = [(0, 1), (1, 2), (2, 3), (3, 0)]
    row2 = graph.degree_assortativity(
        spark.createDataFrame(cyc, ["src", "dst"])
    ).collect()[0]
    assert row2["assortativity"] is None  # constant degrees: no variance


def test_ra_link_prediction_brute_force_and_cap(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import ra_link_prediction

    # bipartite: left nodes 1-4, right nodes 10-13
    edges = [
        (1, 10), (2, 10),            # r10 deg 2 -> w 500_000_000
        (1, 11), (2, 11), (3, 11),   # r11 deg 3 -> w 333_333_333
        (3, 12), (4, 12),            # r12 deg 2
        (1, 13), (2, 13), (3, 13), (4, 13),  # r13 deg 4 (capped out below)
    ]
    df = spark.createDataFrame(edges, "l long, r long")
    out = {
        (r.node_a, r.node_b): (r.ra_score_scaled, r.n_shared)
        for r in ra_link_prediction(df, left="l", right="r", deg_cap=3, k=100).collect()
    }
    # r13 (deg 4 > cap) contributes nothing; hand-computed RA sums:
    assert out[(1, 2)] == (500_000_000 + 333_333_333, 2)
    assert out[(1, 3)] == (333_333_333, 1)
    assert out[(2, 3)] == (333_333_333, 1)
    assert out[(3, 4)] == (500_000_000, 1)
    assert (1, 4) not in out  # only shared via the capped r13
    # uncapped: every pair sharing r13 gains 250_000_000
    full = {
        (r.node_a, r.node_b): r.ra_score_scaled
        for r in ra_link_prediction(df, left="l", right="r", deg_cap=64, k=100).collect()
    }
    assert full[(1, 4)] == 250_000_000
    assert full[(1, 2)] == 500_000_000 + 333_333_333 + 250_000_000


# -------------------------------------------------------- temporal_reachability


def test_temporal_reachability_blocks_backward_time_paths(spark):
    """1-(t5)->2-(t3)->3 is NOT time-respecting (3 < 5), so 3 stays
    unreachable; 2-(t7)->4 is."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import (
        temporal_reachability,
    )

    edges = spark.createDataFrame(
        [Row(src=1, dst=2, t=5), Row(src=2, dst=3, t=3), Row(src=2, dst=4, t=7)]
    )
    seeds = spark.createDataFrame([Row(node=1)])
    out = {r.round: r for r in temporal_reachability(
        edges, sources=seeds, max_hops=3
    ).collect()}
    assert (out[1].n_reached, out[1].max_arrival) == (2, 5)   # {1@0, 2@5}
    assert (out[2].n_reached, out[2].max_arrival) == (3, 7)   # +{4@7}
    assert out[3].n_reached == 3                               # 3 never reached
    assert out[2].sum_arrival == 12.0


def test_temporal_reachability_takes_earliest_valid_edge(spark):
    """With 2->3 at t=3 (invalid, 3 < arr(2)=5) AND t=9 (valid), node
    3 arrives at 9 — the min over VALID edges, not the min edge."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import (
        temporal_reachability,
    )

    edges = spark.createDataFrame(
        [
            Row(src=1, dst=2, t=5),
            Row(src=2, dst=3, t=3),
            Row(src=2, dst=3, t=9),
            Row(src=2, dst=3, t=11),
        ]
    )
    seeds = spark.createDataFrame([Row(node=1)])
    out = {r.round: r for r in temporal_reachability(
        edges, sources=seeds, max_hops=2
    ).collect()}
    assert out[2].n_reached == 3 and out[2].max_arrival == 9


def test_temporal_reachability_matches_bruteforce_on_random_graphs(spark):
    """Hypothesis-style sweep (fixed seeds, no Spark-fixture clash):
    the per-round wavefront must equal a brute-force Bellman
    simulation of earliest temporal arrival on random small DAG-ish
    edge sets."""
    import random

    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import (
        temporal_reachability,
    )

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n_nodes = 8
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes), rng.randrange(1, 20))
            for _ in range(18)
        ]
        seeds = [0, 1]
        # brute force: arr via 3 relaxation rounds
        arr = {s: 0 for s in seeds}
        snapshots = []
        for _ in range(3):
            # one Bellman relaxation: min over valid (t >= arr[src])
            # incoming edge times, never worse than the previous arr
            cand = dict(arr)
            for u, v, t in edges:
                if u in arr and t >= arr[u]:
                    if v not in cand or t < cand[v]:
                        cand[v] = t
            arr = cand
            snapshots.append(
                (len(arr), min(arr.values()), max(arr.values()), sum(arr.values()))
            )

        e = spark.createDataFrame([Row(src=u, dst=v, t=t) for u, v, t in edges])
        s = spark.createDataFrame([Row(node=x) for x in seeds])
        out = temporal_reachability(e, sources=s, max_hops=3).collect()
        got = [
            (r.n_reached, r.min_arrival, r.max_arrival, int(r.sum_arrival))
            for r in sorted(out, key=lambda r: r.round)
        ]
        assert got == snapshots, f"seed {seed}: {got} != {snapshots}"
