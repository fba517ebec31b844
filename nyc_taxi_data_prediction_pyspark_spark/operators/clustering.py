"""Fixed-point integer k-means — semantic clustering over embedding
columns (the scale path behind semantic dedup / corpus curation:
cluster once, then dedup or sample WITHIN clusters instead of across
the whole corpus).

Reference parity: the reference's ML surface is model.fit()-style
training jobs (ml_train_dag.py); its clustering needs are delegated to
engine-seeded library k-means, which is rows-only-checkable (seeds are
engine-local — the q29 problem). This module applies the q109 trick to
clustering: run Lloyd's algorithm in EXACT INTEGER arithmetic so a SQL
oracle can unroll the same iterations and value-hash-match an
ITERATIVE ML algorithm bit-for-bit.

Determinism contract (mirrors operators/graph.pagerank_fixedpoint):
- components quantized to ``quant`` integer units via
  ``floor(double(x) * quant)`` — float32→double is exact, the double
  multiply rounds identically on any IEEE engine;
- seeds are the ``k`` lowest-id vectors (data rows, not RNG);
- distances are integer squared-L2 (order-independent sums);
- ties broken by lowest centroid id;
- centroid update is ELEMENT-WISE FLOOR DIVISION, written as
  ``(s - pmod(s, n)) div n`` — after subtracting the positive
  remainder the division is exact, so truncating (Spark/Java) and
  flooring (DuckDB) integer division agree on negative sums;
- clusters that lose all members keep their previous centroid.

Scale posture (100 TB corpus, k in the hundreds):
- assignment is points × broadcast(k×dim centroid rows): a narrow
  map-side crossJoin — O(n·k·dim) arithmetic inside whole-stage
  codegen (zip_with/aggregate higher-order exprs, no Python), zero
  shuffle of the point set;
- the update is posexplode → groupBy (cluster, pos): map-side
  combine reduces to k·dim rows crossing the wire per iteration;
- per-iteration state is the k×dim centroid frame — metadata-class;
  the quantized point set is cached once and reused every iteration;
- iterations compose lazily through the shared fixed-point loop
  (``operators/_fixpoint.py``) with no per-round checkpoint: measured
  in round 13, per-iteration centroid localCheckpoints cut the Spark
  JOB count (each iteration's broadcast subtree nests every earlier
  one: q142 31→21 jobs) but RAISE wall time (q142 2.35→3.22 s, q192
  2.00→2.17 s min-of-5) — the k-row block materializations serialize
  on block-store latency while the nested broadcast recompute is
  pipelined codegen over the cached point set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from . import _fixpoint as fx


def _quantize(vec_col: str, quant: int) -> Column:
    """Integer components ``floor(double(x) * quant)`` — exact on any
    IEEE engine (see the module determinism contract)."""
    return F.expr(
        f"transform({vec_col}, x -> cast(floor(cast(x as double) * {quant}) as bigint))"
    ).alias("qv")


def kmeans_fixedpoint(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means in exact integer arithmetic; returns the final
    assignment ``(pid, cluster, d2)`` — one row per input vector,
    cluster ids in [0, k), ``d2`` the integer squared distance to the
    winning centroid (so callers can report exact inertia).

    ``iters`` centroid updates are performed, then one final
    assignment against the last centroids (assign → update ×iters →
    assign)."""
    pts = emb.select(F.col(id_col).alias("pid"), _quantize(vec_col, quant)).cache()

    # seeds: the k lowest-id vectors, numbered 0..k-1 in id order —
    # a TakeOrdered of k rows, then a window over those k rows only
    seeds = pts.orderBy("pid").limit(k)
    cent = seeds.select(
        (F.row_number().over(Window.orderBy("pid")) - 1).alias("cid"),
        F.col("qv").alias("cv"),
    )

    cent = _lloyd_centroids(pts, cent, iters)

    # force the |n|-row assignment once, then release the cached point set
    return fx.finish(_assign(pts, cent).select("pid", "cluster", "d2"), pts)


def _all_distances(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(pid, qv, cid, d2): integer squared-L2 to EVERY centroid —
    points × broadcast(k×dim centroid rows), arithmetic in codegen."""
    return pts.crossJoin(F.broadcast(centroids)).select(
        "pid",
        "qv",
        "cid",
        F.expr(
            "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("d2"),
    )


def _assign(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(pid, qv, cluster, d2): nearest centroid by integer squared-L2,
    ties to the lowest cid."""
    return (
        _all_distances(pts, centroids)
        .groupBy("pid")
        .agg(
            F.first("qv").alias("qv"),
            F.min(F.struct("d2", "cid")).alias("m"),
        )
        .select(
            "pid",
            "qv",
            F.col("m.cid").alias("cluster"),
            F.col("m.d2").alias("d2"),
        )
    )


def _lloyd_centroids(pts: DataFrame, cent: DataFrame, iters: int) -> DataFrame:
    """``iters`` exact-integer Lloyd centroid updates (see module
    docstring for the determinism contract)."""

    def update(cent: DataFrame) -> DataFrame:
        assigned = _assign(pts, cent)
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        # exact floor division valid for negative sums on any engine
        new_cent = (
            sums.select(
                F.col("cluster").alias("cid"),
                "pos",
                F.expr("(s - pmod(s, n)) div n").alias("c"),
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))), t -> t.c)"
                ).alias("cv_new")
            )
        )
        return cent.join(new_cent, "cid", "left").select(
            "cid", F.coalesce("cv_new", "cv").alias("cv")
        )

    return fx.iterate(cent, update, iters, every=0)


def kmeans_separation(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 1,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster cohesion/separation acceptance for the fixed-point
    k-means — the clustering-quality gate a curation pipeline checks
    before trusting cluster-local dedup/sampling (q192's SemDeDup
    blocks, the IVF cell map). A simplified-silhouette-style ratio
    computed ENTIRELY in exact integers until one final division:

    per point, a = d2 to its own (winning) centroid and b = d2 to the
    nearest OTHER centroid (best and second-best of the k integer
    distances — an in-row sort of the k-element struct array); per
    cluster the output is exact BIGINT sums of a and b plus
    separation = sum_b / sum_a (NULL for a degenerate all-zero
    cluster). separation >> 1 means tight, well-separated clusters.

    Same shape as assignment itself: points × broadcast(k×dim
    centroids), one groupBy(pid) then one groupBy(cluster) — no extra
    corpus pass beyond the fit. The oracle re-runs the unrolled Lloyd
    chain and reads best/second-best as row_number 1 and 2."""
    pts = emb.select(F.col(id_col).alias("pid"), _quantize(vec_col, quant)).cache()
    seeds = pts.orderBy("pid").limit(k)
    cent = seeds.select(
        (F.row_number().over(Window.orderBy("pid")) - 1).alias("cid"),
        F.col("qv").alias("cv"),
    )
    cent = _lloyd_centroids(pts, cent, iters)
    both = (
        _all_distances(pts, cent)
        .groupBy("pid")
        .agg(F.array_sort(F.collect_list(F.struct("d2", "cid"))).alias("ds"))
        .select(
            "pid",
            F.col("ds")[0]["cid"].alias("cluster"),
            F.col("ds")[0]["d2"].alias("a2"),
            F.col("ds")[1]["d2"].alias("b2"),
        )
    )
    out = (
        both.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("a2").alias("sum_own_d2"),
            F.sum("b2").alias("sum_next_d2"),
        )
        .select(
            "cluster",
            "n_points",
            "sum_own_d2",
            "sum_next_d2",
            F.when(
                F.col("sum_own_d2") > 0,
                F.col("sum_next_d2").cast("double") / F.col("sum_own_d2").cast("double"),
            ).alias("separation"),
        )
        .orderBy("cluster")
    )
    return fx.finish(out, pts)


def kcenter_sample(
    emb: DataFrame,
    *,
    k: int = 6,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez) diversity sampling
    — the coreset-selection step of a training-data curation pipeline:
    pick k maximally-spread exemplars, the 2-approximation to the
    k-center objective, used to seed diverse fine-tuning subsets or
    dedup cluster representatives.

    Determinism contract (the q142 fixed-point discipline): components
    quantized to integers via floor(double(x)·quant) — exact on any
    IEEE engine; distances are integer squared-L2 computed as an
    in-row sequential fold (no cross-row float summation); the seed is
    the lowest-id vector and every argmax breaks ties (d2 DESC, id
    ASC) — a total order, so any engine selects the same centers.

    Shape (100 TB corpus): per step, ONE corpus pass updates the
    running min-distance frame against the newly selected center — a
    64-int literal baked into the plan, no join — and one 1-row argmax
    collect picks the next center (TakeOrdered of 1; center metadata,
    the centroid-pull class). State is localCheckpointed each step so
    step i does not recompute steps 1..i-1 (k passes total, not k²/2).

    Returns k+1 rows (step, vec_id, maximin_d2, selected): steps 1..k
    are the chosen centers with their selection-time maximin distance
    (seed d2 = 0), step k+1 is the unselected WITNESS — the farthest
    remaining point, whose d2 IS the achieved covering radius (the
    k-center objective value)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    pts = emb.select(F.col(id_col).alias("pid"), _quantize(vec_col, quant))
    pts = pts.localCheckpoint(eager=False)

    seed = pts.orderBy("pid").first()
    if seed is None:
        return emb.sparkSession.createDataFrame(
            [], "step int, vec_id long, maximin_d2 long, selected boolean"
        )

    def d2_to(center_qv: list[int]):
        lit = F.array(*[F.lit(int(x)) for x in center_qv])
        return F.aggregate(
            F.zip_with("qv", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    chosen = [(1, int(seed["pid"]), 0, True)]
    mind = (
        pts.where(F.col("pid") != int(seed["pid"]))
        .select("pid", "qv", d2_to(list(seed["qv"])).alias("d"))
        .localCheckpoint(eager=False)
    )
    for step in range(2, k + 1):
        nxt = mind.orderBy(F.desc("d"), F.asc("pid")).first()
        if nxt is None:
            break
        chosen.append((step, int(nxt["pid"]), int(nxt["d"]), True))
        mind = (
            mind.where(F.col("pid") != int(nxt["pid"]))
            .select("pid", "qv", F.least("d", d2_to(list(nxt["qv"]))).alias("d"))
            .localCheckpoint(eager=False)
        )
    witness = mind.orderBy(F.desc("d"), F.asc("pid")).first()
    if witness is not None:
        chosen.append((len(chosen) + 1, int(witness["pid"]), int(witness["d"]), False))
    return emb.sparkSession.createDataFrame(
        chosen, "step int, vec_id long, maximin_d2 long, selected boolean"
    ).orderBy("step")
