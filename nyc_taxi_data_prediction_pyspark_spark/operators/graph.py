"""Iterative graph algorithms as DataFrame loops (north-star extension;
same family as dedup.connected_components).

PageRank here is FIXED-POINT INTEGER PageRank: ranks live in integer
pico-units of total mass 1.0 (``SCALE`` = 10^12) and every step uses
floor division, so the result is bit-identical on any engine — an
unrolled SQL oracle can value-check an *iterative* algorithm, which
double arithmetic (order-dependent float sums) cannot. The verdictable
property this buys: q29-style "iterative ⇒ rows-only" does NOT have to
hold when the recurrence is expressed in exact integer arithmetic.

Scale posture (100 TB / 10^9-node graphs):
- the (src, dst, deg) frame is built ONCE (edges ⋈ out-degrees),
  hash-partitioned on src and cached — InMemoryTableScan preserves
  that HashPartitioning in its outputPartitioning, so each
  iteration's join re-shuffles only the |V|-sized rank frame, never
  the |E|-sized edge frame;
- each iteration is therefore one |V| shuffle + one aggregation keyed
  on dst — O(|E|) scan work off the cache, no driver data motion;
- rank state is one row per node (|V|, not |E|);
- the round loop, its lineage-truncating ``localCheckpoint`` cadence
  and the end-of-run force + cache release are the shared fixed-point
  loop (``operators/_fixpoint.py``), used by every loop in this module;
- the single fused setup count is quantizer-class metadata (one
  scalar), used only to size the teleport constant.

Dangling nodes (no out-edges) leak their mass — the standard "leaky"
variant; callers that need conservation should symmetrize the edge
set (as q109 does), which guarantees every node has out-degree ≥ 1.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from . import _fixpoint as fx

SCALE = 1_000_000_000_000  # pico-units: sum of initial ranks == SCALE

# PageRank lineage is truncated every 4 rounds, not every round: on the
# q109 trade graph (sf0.1, min-of-3) a per-round localCheckpoint cost
# 12.1 s wall vs 4.0 s without — each one writes the |V| frame to block
# storage, and on a 3-round run that storage traffic IS the query.
_PAGERANK_CHECKPOINT_EVERY = 4


def pagerank_fixedpoint(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-point PageRank: pr_{k+1}(v) = teleport + (d·Σ_{u→v} pr_k(u) div deg(u)) div 100
    with teleport = ((100−d)·(SCALE div N)) div 100, all in BIGINT floor
    division. Returns (node, pr) — pr in pico-units.

    This is ``personalized_pagerank`` with every node a source: the
    source flag is the constant true, so no membership join is added.

    ``assume_distinct=True`` skips the defensive edge dedup (one full
    |E| shuffle) when the caller guarantees edge uniqueness — e.g. it
    built the edge set from a ``.distinct()`` pair frame, as q109 does."""
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct).cache()
    nodes = fx.node_set(e).withColumn("__is_src", F.lit(True))
    return _pagerank(e, nodes, iters, damping_pct)


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: identical fixed-point
    BIGINT recurrence to ``pagerank_fixedpoint``, except ALL teleport
    mass returns to the SOURCE set — the similarity-to-a-seed-set
    ranking recommender / related-entity queries use (Haveliwala,
    WWW'02). ``sources`` is a 1-column frame of seed node ids.

        pr_0(v)    = (SCALE div |S|) · [v ∈ S]
        pr_{k+1}(v) = [v ∈ S]·(((100-d)·(SCALE div |S|)) div 100)
                      + (d·Σ_{u→v} pr_k(u) div deg(u)) div 100

    All floor division ⇒ an unrolled SQL oracle value-hash-checks the
    iterative run (the q109 argument). The source membership flag rides
    the cached nodes frame (one hash join at build time, zero per
    iteration). Isolated seeds (sources with no edges) keep their
    teleport mass — they are unioned into the node set."""
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct).cache()
    s = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    nodes = (
        fx.node_set(e, s)
        .join(s.withColumn("__is_src", F.lit(True)), "node", "left")
        .select("node", F.coalesce("__is_src", F.lit(False)).alias("__is_src"))
    )
    return _pagerank(e, nodes, iters, damping_pct)


def _pagerank(e: DataFrame, nodes: DataFrame, iters: int, damping_pct: int) -> DataFrame:
    """The shared PageRank core over the cached edge frame ``e`` and a
    (node, __is_src) frame; releases ``e`` after setup and every other
    cache on return."""
    nodes = nodes.cache()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg) built once, hash-partitioned on the probe key and
    # cached: the per-iteration join then re-shuffles only the rank
    # frame (|V| rows) — the cached scan keeps its HashPartitioning.
    fanout = e.join(outdeg, "src").repartition("src").cache()

    # ONE fused setup action: |S| is the sum of the __is_src flags
    # riding the nodes frame, so a union-agg scan returns the constant
    # AND forces nodes + fanout in a single job before the transient
    # edge cache is dropped (peak extra storage: one |E| pass during
    # setup, none during the iterations).
    n_src = (
        nodes.select(F.col("__is_src").cast("bigint").alias("__f"))
        .unionByName(fanout.select(F.lit(0).cast("bigint").alias("__f")))
        .agg(F.sum("__f"))
        .collect()[0][0]
    )
    e.unpersist()
    base = SCALE // n_src
    teleport = ((100 - damping_pct) * base) // 100
    tel_col = F.when(F.col("__is_src"), F.lit(teleport)).otherwise(F.lit(0))

    def step(pr: DataFrame) -> DataFrame:
        contrib = (
            fanout.join(pr, fanout["src"] == pr["node"])
            .select(F.col("dst"), F.expr("pr div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("recv"))
        )
        return nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            "__is_src",
            (
                tel_col + F.expr(f"({damping_pct} * coalesce(recv, 0L)) div 100")
            ).cast("bigint").alias("pr"),
        )

    pr = nodes.withColumn(
        "pr", F.when(F.col("__is_src"), F.lit(base)).otherwise(F.lit(0)).cast("bigint")
    ).select("node", "__is_src", "pr")
    pr = fx.iterate(pr, step, iters, every=_PAGERANK_CHECKPOINT_EVERY)
    return fx.finish(pr.select("node", "pr"), nodes, fanout)


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count of an undirected graph via DEGREE-ORDERED
    orientation — the standard skew-proof formulation (cf. the
    node-iterator++ / forward algorithm, Schank & Wagner 2005).

    Input: one row per undirected edge, either direction, self-loops
    and duplicates tolerated. Each edge is oriented from its
    lower-(degree, id) endpoint to the higher one; a triangle {a,b,c}
    then has EXACTLY one wedge a→b, a→c with b→c closing it, so the
    count is wedge ⋈ closing-edge with no post-division.

    Why degree ordering matters at scale: wedges are generated at the
    wedge apex, and an apex of out-degree d yields d·(d-1)/2 wedges.
    Orienting by degree caps every out-degree at O(sqrt(|E|))
    (a node of degree d keeps only edges toward HIGHER-degree nodes,
    and at most sqrt(|E|) nodes have degree >= sqrt(|E|)) — a
    10^7-degree celebrity node in id-ordering would emit ~10^13
    wedges; in degree-ordering it emits at most |{nodes with larger
    degree}|^2. Three hash joins total, no cross join.
    """
    # canonical undirected edge set (a < b), self-loops dropped;
    # lazily checkpointed — it feeds FOUR plan subtrees (both degree
    # scans, the orientation join, the closing join), which would
    # otherwise each re-run the caller's edge construction
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge toward the (degree, id)-larger endpoint
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("u"), F.col("o.hi").alias("w"))
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # unordered out-neighbor pairs at the apex, canonicalized by id so
    # the closing lookup is a single EQUI join against the undirected
    # edge set (an OR over both oriented directions would plan as a
    # nested loop)
    wedges = w1.join(w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.w") < F.col("w2.w"))).select(
        F.col("w1.u").alias("u"), F.col("w1.w").alias("x"), F.col("w2.w").alias("y")
    )
    cl = e.alias("cl")
    tri = wedges.join(cl, (F.col("x") == F.col("cl.a")) & (F.col("y") == F.col("cl.b")))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def local_clustering(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 100,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998):
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) over the undirected simple
    graph — the per-node refinement of ``triangle_count`` (same
    degree-ordered orientation, Schank & Wagner 2005, so the wedge
    fan-out cap and the three-equi-join shape carry over unchanged).

    Each triangle is materialized EXACTLY once as (apex u, x, y) by
    the orientation invariant, then exploded to its three member
    nodes — one extra narrow explode + one map-side-combinable count
    vs the global counter.  deg and tri are exact BIGINTs; lcc is one
    IEEE division rounded to 6, so both engines agree bit-for-bit.

    Returns the top-``k`` nodes with deg >= 2 by (lcc DESC, deg DESC,
    node ASC) as (node, degree, triangles, lcc) — deterministic
    TakeOrdered output, never a full-graph sort."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("u"), F.col("o.hi").alias("w"))
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.w") < F.col("w2.w"))
    ).select(F.col("w1.u").alias("u"), F.col("w1.w").alias("x"), F.col("w2.w").alias("y"))
    cl = e.alias("cl")
    tri = wedges.join(cl, (F.col("x") == F.col("cl.a")) & (F.col("y") == F.col("cl.b")))
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(per_node, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                (F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0)).cast("double"))
                / (F.col("deg").cast("double") * (F.col("deg").cast("double") - F.lit(1.0))),
                6,
            ).alias("lcc"),
        )
        .orderBy(F.col("lcc").desc(), F.col("degree").desc(), F.col("node").asc())
        .limit(k)
    )


def bfs_levels(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Bounded-depth BFS: minimum hop distance (<= ``max_hops``) from
    the ``sources`` node set — the reachability/blast-radius primitive
    (supply-chain exposure, fraud-ring neighborhoods).

    Frontier expansion with level-synchronous semantics: the state is
    one frame ``visited(node, hop, fresh)``, and each round joins only
    its ``fresh`` rows (the frontier, not the visited set) against the
    edge list at ``hop + 1`` and anti-joins the whole state, so a
    node's hop is the FIRST round that reaches it — exactly the min-hop
    definition, and the per-round join cost is |frontier|·avg-degree,
    never |visited|.  The old rows carry on with ``fresh = false``.

    Scale shape: the edge frame is src-partitioned and cached once;
    the state is checkpointed per round by the shared fixed-point loop
    (``fx.iterate``), so its three consumers (frontier, anti-join,
    union) read it once.  All arithmetic is integer, so the oracle can
    unroll the same rounds as CTEs and value-hash-match (the q109/q142
    contract).

    Returns (node, hop), hop in [0, max_hops]."""
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct)
    e = e.repartition("src").cache()

    def expand(v: DataFrame) -> DataFrame:
        front = v.where("fresh")
        nxt = (
            e.join(front, e["src"] == front["node"])
            .select(F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop"))
            .distinct()
            .join(v.select("node"), "node", "left_anti")
        )
        return v.withColumn("fresh", F.lit(False)).unionByName(
            nxt.withColumn("fresh", F.lit(True))
        )

    seeds = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    v = seeds.select("node", F.lit(0).alias("hop"), F.lit(True).alias("fresh"))
    return fx.finish(fx.iterate(v, expand, max_hops).select("node", "hop"), e)


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "remove every node with degree < k" over an undirected edge set
    (pass both directions, q109-style) — the density filter behind
    community mining and spam-graph pruning. The true k-core is the
    fixed point; bounding the rounds keeps the operator's cost and its
    ORACLE well-defined (the same rounds unroll as CTEs, q162's
    contract), and the ``converged`` flag reports whether the fixed
    point was already reached — at 100 TB you run rounds until it
    flips, checkpointing per round exactly as here.

    Per round: one degree aggregation + two semi-joins restricting
    edges to surviving endpoints; edge frame localCheckpointed so the
    next round's plan starts from materialized state, not a growing
    lineage (no driver action inside the loop). Returns one row:
    (n_nodes, min_node, node_checksum, n_below_k, converged) —
    ``n_below_k`` counts survivors another round would remove, so
    ``converged`` means the bounded peel already reached the true
    k-core.
    """
    def peel(e: DataFrame) -> DataFrame:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select(F.col("src").alias("node"))
        return e.join(keep.withColumnRenamed("node", "src"), "src", "semi").join(
            keep.withColumnRenamed("node", "dst"), "dst", "semi"
        )

    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct)
    e = fx.iterate(e.localCheckpoint(eager=False), peel, rounds)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("src").alias("min_node"),
        F.sum("src").cast("bigint").alias("node_checksum"),
        F.sum((F.col("deg") < k).cast("bigint")).alias("n_below_k"),
    ).withColumn("converged", F.col("n_below_k") == 0)


def hits_quotient(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg JACM'99): hub/authority
    scores on a DIRECTED graph, with the classic L2 normalization
    replaced by QUOTIENT normalization — after each half-step the
    scores are floor-divided by q = max(1, Σscores div SCALE), pulling
    the total mass back to ≈SCALE with error < N. sqrt/L2 would drag
    in engine-libm rounding; floor division keeps every value exact
    BIGINT, so an unrolled SQL oracle value-checks the iteration (the
    q109/q142 argument applied to HITS).

        a_{k+1}(v) = (Σ_{u→v} h_k(u)) div q_a
        h_{k+1}(u) = (Σ_{u→v} a_{k+1}(v)) div q_h

    Overflow bound: raw sums ≤ SCALE·max_degree ≈ 1e12·deg — BIGINT-
    safe to deg ~1e6; the quotient step renormalizes before the next
    multiply-free round, so iterations never compound the bound.

    Scale shape: the edge frame is deduped (unless ``assume_distinct``)
    and localCheckpointed ONCE; each half-step (``half``) is one
    equi-join + aggregation keyed on an endpoint, with its raw sums
    checkpointed for their two consumers (quotient + normalize), plus
    a 1-row total frame broadcast for the quotient.  The hub state runs
    on the shared fixed-point loop; the last round is unrolled so it
    keeps the authority scores.  The initial mass SCALE div N comes
    from a 1-row node count broadcast into the start frame, so setup
    runs no DataFrame action.  Nodes missing a half-step's sum (no in- or
    no out-edges) carry 0 for that score, the standard bipartite-HITS
    behavior. Returns (node, hub, auth) over all nodes, zero-filled."""
    if iters < 1:
        raise ValueError("hits_quotient needs iters >= 1 (no authority scores exist before the first half-step)")
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct)
    e = e.localCheckpoint(eager=False)
    nodes = fx.node_set(e).localCheckpoint(eager=False)

    def half(scores: DataFrame, frm: str, to: str) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed("node", frm), frm)
            .groupBy(to)
            .agg(F.sum("s").alias("raw"))
            # double consumer (quotient agg + normalized scores): without
            # truncation each consumer re-runs the |E| join+agg
            .localCheckpoint(eager=False)
        )
        q = raw.agg(F.greatest(F.expr(f"sum(raw) div {SCALE}L"), F.lit(1)).alias("q"))
        return raw.crossJoin(F.broadcast(q)).select(  # 1-row quotient
            F.col(to).alias("node"), F.expr("raw div q").alias("s")
        )

    n = nodes.agg(F.greatest(F.count(F.lit(1)), F.lit(1)).alias("n"))  # 1-row
    h = nodes.crossJoin(F.broadcast(n)).select("node", F.expr(f"{SCALE}L div n").alias("s"))
    h = fx.iterate(h, lambda h: half(half(h, "src", "dst"), "dst", "src"), iters - 1)
    a = half(h, "src", "dst")
    h = half(a, "dst", "src")
    return (
        nodes.join(h.withColumnRenamed("s", "hub"), "node", "left")
        .join(a.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth"),
        )
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al., Phys. Rev. E 2007), made DETERMINISTIC: every node starts as
    its own label; each round every node adopts the most frequent
    label among its neighbors, ties broken toward the SMALLEST label.
    Synchronous updates + total tie order make the result a pure
    function of the edge set — no RNG, no visit order — so 3 unrolled
    rounds are SQL-checkable (the q109/q162/q167 iterative-oracle
    pattern).

    ``edges`` must be SYMMETRIZED by the caller (as q109 does) —
    propagation follows src→dst rows as given. The argmax is one
    struct MAX over (count, -label): no window, map-side combinable.
    Per round: one |E| join keyed on dst + two aggregations; the label
    frame (|V| rows) is localCheckpointed per round; isolated nodes
    keep their own label via the left join. Returns (node, label)."""
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct)
    # hash-partition the edge frame on the per-round join key and CACHE
    # it (round-14, verdict 3b — the pagerank cached-fanout idiom): an
    # InMemoryTableScan preserves its HashPartitioning, so at cluster
    # scale every round's e⋈lab sort-merge join re-shuffles only the
    # |V| label frame, never the |E| edges.  (localCheckpoint would
    # NOT work here: a checkpointed RDD scans as UnknownPartitioning —
    # measured, the SMJ re-shuffled both sides.)  Locally the |V| side
    # broadcasts either way; the one extra setup exchange replaces
    # iters×|E| exchanges at scale.  The cache is released once the
    # final labels are forced.
    e = e.repartition("dst").cache()
    nodes = fx.node_set(e).localCheckpoint(eager=False)

    def step(lab: DataFrame) -> DataFrame:
        nb = (
            e.join(lab.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            nb.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("b"))
            .select("node", (-F.col("b.nl")).alias("label"))
        )
        return nodes.join(best, "node", "left").select(
            "node", F.coalesce("label", F.col("node")).cast("bigint").alias("label")
        )

    lab = fx.iterate(nodes.select("node", F.col("node").alias("label")), step, iters)
    return fx.finish(lab, e)


def degree_assortativity(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of (out-degree(src), in-degree(dst)) over the directed
    edge list — positive means hubs link to hubs (social nets),
    negative means hubs link to leaves (tech/bipartite nets). One
    number that characterizes a 10^9-edge graph.

    Exactness contract (the correlation_matrix discipline): degrees
    are exact BIGINT counts; the five moment sums (Σx, Σy, Σxy, Σx²,
    Σy²) are exact integer aggregations (BIGINT-safe to deg ~3e4 on
    1e9 edges — beyond that switch the moment casts to DECIMAL(38,0),
    same formula); the coefficient is assembled from the exact moments
    in one double expression, so any engine agrees bit-for-bit.

    Shape: two map-side-combinable degree aggregations, two equi-joins
    back onto the edge list, one global 5-sum aggregate — all linear,
    no windows. Returns one row (n_edges, assortativity); NULL
    coefficient when a degree side is constant (zero variance)."""
    e = fx.edge_frame(edges, src, dst, assume_distinct=assume_distinct)
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("__dx"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("__dy"))
    j = e.join(outd, "src").join(ind, "dst")
    mom = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dx").alias("sx"),
        F.sum("__dy").alias("sy"),
        F.sum(F.col("__dx") * F.col("__dy")).alias("sxy"),
        F.sum(F.col("__dx") * F.col("__dx")).alias("sxx"),
        F.sum(F.col("__dy") * F.col("__dy")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return mom.select(
        F.col("n").alias("n_edges"),
        F.when(
            (varx > 0) & (vary > 0),
            num.cast("double") / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
        ).alias("assortativity"),
    )


def ra_link_prediction(
    edges: DataFrame,
    *,
    left: str,
    right: str,
    deg_cap: int = 64,
    unit: int = 10**9,
    k: int = 20,
) -> DataFrame:
    """Resource-Allocation link prediction over a bipartite projection
    (Zhou, Lü & Zhang, Eur. Phys. J. B 2009 — the RA index; the
    integer-weight cousin of Adamic–Adar): score every LEFT-node pair
    by the resources flowing through their shared RIGHT neighbors,
        RA(a, b) = Σ_{r ∈ Γ(a) ∩ Γ(b)} 1 / deg(r),
    the classic "which suppliers are interchangeable / which items are
    co-purchased" collaborative signal. Returns the top-k pairs by
    (score, pair id) with the shared-neighbor count.

    Exactness: contributions are integer micro-units ``unit div
    deg(r)`` (BIGINT floor division — no float accumulation), summed
    exactly, so ranking and values are engine-stable.

    Scale shape — the same discipline as the q17/q153 posting lists:
    candidate pairs are generated per RIGHT node by a self-join
    co-partitioned on the right key, so the pair volume is
    Σ_r deg(r)², NOT |V|². Hot right-nodes are dropped by ``deg_cap``
    BEFORE pair generation (their per-pair contribution is ≤
    unit/deg_cap — the least informative edges, exactly why RA
    down-weights them; the cap bound is the documented loss, the
    q17 cap-sensitivity argument). Degrees are computed on the FULL
    edge set first, so surviving weights are true degrees.
    """
    e = edges.select(F.col(left).alias("__l"), F.col(right).alias("__r")).distinct()
    deg = e.groupBy("__r").agg(F.count(F.lit(1)).cast("bigint").alias("__deg"))
    w = (
        e.join(deg.where(F.col("__deg") <= deg_cap), "__r")
        .withColumn("__w", F.expr(f"CAST({int(unit)} AS BIGINT) div __deg"))
    )
    a, b = w.alias("a"), w.alias("b")
    pairs = (
        a.join(b, (F.col("a.__r") == F.col("b.__r")) & (F.col("a.__l") < F.col("b.__l")))
        .select(
            F.col("a.__l").alias("node_a"),
            F.col("b.__l").alias("node_b"),
            F.col("a.__w").alias("__w"),
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.sum("__w").cast("bigint").alias("ra_score_scaled"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        )
    )
    return pairs.orderBy(
        F.col("ra_score_scaled").desc(), F.col("node_a").asc(), F.col("node_b").asc()
    ).limit(k)


def temporal_reachability(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    t: str = "t",
    max_hops: int = 3,
) -> DataFrame:
    """Time-respecting reachability (Kempe, Kleinberg & Kumar STOC'00
    temporal-path semantics): a node is reached only through edge
    sequences whose timestamps never DECREASE along the path —
    information flow, contagion tracing, supply-chain propagation.

    State = earliest temporal arrival per node (BIGINT time units);
    round r applies one Bellman relaxation

        arr(v) <- min( arr(v), min over edges (u,v,te), te >= arr(u) of te )

    so after ``max_hops`` rounds every <= max_hops-edge time-respecting
    path is accounted for. Sources enter at arrival 0 (reachable from
    the epoch). All integer arithmetic — the oracle unrolls the SAME
    rounds as CTEs (the q109/q162 contract).

    Per-round plan cost: one |arrival|⋈edges equi-join on the node key
    + one min-combine groupBy; the arrival frame is localCheckpointed
    per round (double consumer + lineage truncation). Returns one row
    per round: round, n_reached, min/max/sum of arrival times — the
    propagation wavefront profile.
    """
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), F.col(t).cast("bigint").alias("__t")
    ).distinct()
    e = e.repartition("__s").cache()
    arr = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("arr")
    ).distinct()

    def relax(arr: DataFrame) -> DataFrame:
        reached = (
            arr.join(e, arr.node == e.__s)
            .where(F.col("__t") >= F.col("arr"))
            .select(F.col("__d").alias("node"), F.col("__t").alias("arr"))
        )
        return arr.unionByName(reached).groupBy("node").agg(F.min("arr").alias("arr"))

    stats = [
        arr.agg(
            F.lit(rnd).alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.min("arr").cast("bigint").alias("min_arrival"),
            F.max("arr").cast("bigint").alias("max_arrival"),
            F.sum(F.col("arr").cast("decimal(38,0)")).alias("sum_arrival"),
        )
        for rnd, arr in enumerate(fx.rounds(arr, relax, max_hops), 1)
    ]
    out = reduce(DataFrame.unionByName, stats).select(
        "round",
        "n_reached",
        "min_arrival",
        "max_arrival",
        F.col("sum_arrival").cast("double").alias("sum_arrival"),
    ).orderBy("round")
    # every stage that reads the edge cache ran while the rounds were
    # checkpointed; the wavefront aggregates read only checkpointed
    # blocks, so the cache is released without forcing the output
    return fx.finish(out, e, force=False)


def weighted_sssp(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
) -> DataFrame:
    """Hop-bounded single-source shortest paths over NON-NEGATIVE
    integer edge weights (Bellman-Ford, distributed relaxation) — the
    weighted upgrade of bfs_levels: cheapest routing cost, weakest-link
    supply path, minimum-latency reach.

    State = best known distance per node (BIGINT); round r applies one
    Bellman relaxation

        dist(v) <- min( dist(v), min over edges (u,v,w) of dist(u)+w )

    so after ``max_hops`` rounds every path of <= max_hops edges is
    accounted for — the exact hop-bounded shortest-path semantics (NOT
    an approximation of the unbounded problem; the bound is the
    contract, as in bfs_levels/temporal_reachability). All integer
    arithmetic, so the oracle unrolls the SAME rounds as CTEs and
    value-hash-matches (the q109/q162 contract).

    Scale shape: per round one |dist|⋈edges equi-join on the node key
    plus one min-combine groupBy (map-side combined); the dist frame is
    localCheckpointed per round (double consumer + lineage truncation).
    The edge list is repartitioned by source node once and cached, so
    every round's join reuses the same layout. Never materializes
    paths — only the monotone distance map, |V|-bounded.

    Returns (node, dist), one row per reached node."""
    e = edges.select(
        F.col(src).alias("__s"),
        F.col(dst).alias("__d"),
        F.col(weight).cast("bigint").alias("__w"),
    )
    # parallel edges: only the cheapest can ever win a relaxation
    e = e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
    e = e.repartition("__s").cache()
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("dist")
    ).distinct()

    def relax(dist: DataFrame) -> DataFrame:
        reached = dist.join(e, dist.node == e.__s).select(
            F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("dist")
        )
        return dist.unionByName(reached).groupBy("node").agg(F.min("dist").alias("dist"))

    return fx.finish(fx.iterate(dist, relax, max_hops), e)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a GIVEN node partition over the
    undirected simple graph (Newman & Girvan PRE 2004):

        Q = Σ_c [ m_c/m − (d_c/(2m))² ]

    (m = #edges, m_c = intra-community edges, d_c = total degree of
    community c) — the one-number "is this partition better than
    chance" readout that turns a community assignment (q191's LPA, a
    metadata table, an ownership column) into a judged quantity.

    Exactness: m, m_c, d_c are exact BIGINTs; each community's term
    is ONE fixed-parenthesization IEEE expression quantized to
    DECIMAL(38,18) before the sum over the #communities metadata
    frame (the grouped_moments rule).

    Scale: canonical-edge dedup, two label joins (AQE broadcasts the
    label frame when it is entity-sized), two map-side-combinable
    aggs; the 1-row (m) frame broadcasts onto the community frame.
    Returns ONE row (n_communities, n_edges, modularity)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    both = (
        e.join(lab.withColumnRenamed("__n", "a").withColumnRenamed("__l", "__la"), "a")
        .join(lab.withColumnRenamed("__n", "b").withColumnRenamed("__l", "__lb"), "b")
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    intra = (
        both.where(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("__c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__mc"))
    )
    deg = (
        both.select(F.col("__la").alias("__c"))
        .unionAll(both.select(F.col("__lb").alias("__c")))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__dc"))
    )
    dec = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    md = F.col("__m").cast("double")
    term = F.coalesce(F.col("__mc"), F.lit(0)).cast("double") / md - (
        F.col("__dc").cast("double") / (F.lit(2.0) * md)
    ) * (F.col("__dc").cast("double") / (F.lit(2.0) * md))
    per_c = deg.join(intra, "__c", "left").crossJoin(F.broadcast(m))
    return per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.max("__m").cast("bigint").alias("n_edges"),
        F.round(F.sum(dec(term)).cast("double"), 6).alias("modularity"),
    )
