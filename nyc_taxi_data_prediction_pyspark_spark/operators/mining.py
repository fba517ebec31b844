"""Pattern-mining / multi-objective analytics operators.

Beyond the reference's aggregate surface (readme.md:139-190 runs
count/min-max verification queries): these are the mining primitives a
warehouse team reaches for next — market-basket affinity and pareto
frontiers — implemented in the shapes that survive 100 TB:
candidate-pruned pair generation (never all-pairs) and two-phase
distributed prefix aggregates (never a data-sized unpartitioned
window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from . import _fixpoint as fx


def frequent_pairs(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Frequent item PAIRS (A-priori second pass, Agrawal & Srikant
    VLDB'94): which item pairs co-occur in >= ``min_support`` baskets.

    Scale shape — the A-priori downward-closure prune is what keeps
    this non-quadratic:
      1. item support = distinct-basket count per item (map-side
         combined); items below ``min_support`` CANNOT belong to a
         frequent pair, so they are dropped before any pair exists;
      2. the surviving (basket, item) rows group per basket into a
         sorted item array — per-task state bounded by basket size;
      3. pairs are generated IN-ROW (higher-order fns, i < j), so the
         pair shuffle carries only per-basket-quadratic output where
         baskets are small by nature (order line counts), never a
         corpus-level cross join;
      4. one aggregation counts pair support; the same threshold
         filters the output.
    The frequent-item frame is a plain inner join (AQE broadcasts it
    when small); at extreme scale it stays a shuffle join — correct
    either way.

    Returns (item_a, item_b, support), item_a < item_b."""
    pairs_src = df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i")).distinct()
    support = pairs_src.groupBy("i").agg(F.count(F.lit(1)).alias("item_support"))
    frequent = support.where(F.col("item_support") >= min_support).select("i")
    baskets = (
        pairs_src.join(frequent, "i")
        .groupBy("b")
        .agg(F.array_sort(F.collect_list("i")).alias("items"))
        .where(F.size("items") > 1)
    )
    pair_list = F.filter(
        F.flatten(
            F.transform(
                F.col("items"),
                lambda x: F.transform(
                    F.col("items"), lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    return (
        baskets.select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )


def frequent_triples(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Frequent item TRIPLES (A-priori pass 3, Agrawal & Srikant
    VLDB'94): item sets of size 3 co-occurring in >= ``min_support``
    baskets.

    Downward closure applied twice before anything cubic exists:
      1. infrequent ITEMS are dropped (they cannot be in a frequent
         pair, let alone a triple);
      2. infrequent PAIRS prune candidate triples — a triple survives
         only if ALL THREE of its sub-pairs are pass-2 frequent. The
         exploded candidate stream is semi-joined against the frequent
         -pair frame on each of its three sub-pairs, so candidates die
         before the counting shuffle, not after.
    Triples are generated IN-ROW (i < j < k over the basket's sorted
    frequent-item array) — per-basket-cubic only, never corpus-cubic;
    basket sizes are naturally small (order line counts). NOTE the
    pair prune cannot change the RESULT (any triple with support >= s
    has sub-pairs with support >= s — that is the closure theorem); it
    exists purely to bound the candidate volume, so the oracle may
    count triples directly.

    Returns (item_a, item_b, item_c, support), item_a < item_b <
    item_c."""
    pairs_src = df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i")).distinct()
    support = pairs_src.groupBy("i").agg(F.count(F.lit(1)).alias("item_support"))
    frequent = support.where(F.col("item_support") >= min_support).select("i")
    # one basket-array build serves BOTH passes (pair counting and
    # triple generation) — calling frequent_pairs() here would redo
    # the distinct + support + collect_list pipeline from the raw rows
    baskets = (
        pairs_src.join(frequent, "i")
        .groupBy("b")
        .agg(F.array_sort(F.collect_list("i")).alias("items"))
        .where(F.size("items") > 1)
        .localCheckpoint(eager=False)
    )
    pair_list = F.filter(
        F.flatten(
            F.transform(
                F.col("items"),
                lambda x: F.transform(
                    F.col("items"), lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    fp = (
        baskets.select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.a").alias("pa"), F.col("p.b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("ps"))
        .where(F.col("ps") >= min_support)
        .select("pa", "pb")
    )
    tri_baskets = baskets.where(F.size("items") > 2)
    triple_list = F.filter(
        F.flatten(
            F.transform(
                F.col("items"),
                lambda x: F.flatten(
                    F.transform(
                        F.col("items"),
                        lambda y: F.transform(
                            F.col("items"),
                            lambda z: F.struct(x.alias("a"), y.alias("b2"), z.alias("c")),
                        ),
                    )
                ),
            )
        ),
        lambda t: (t["a"] < t["b2"]) & (t["b2"] < t["c"]),
    )
    cand = tri_baskets.select(F.explode(triple_list).alias("t")).select(
        F.col("t.a").alias("item_a"),
        F.col("t.b2").alias("item_b"),
        F.col("t.c").alias("item_c"),
    )
    for left, right in (("item_a", "item_b"), ("item_b", "item_c"), ("item_a", "item_c")):
        cand = cand.join(
            fp,
            (F.col(left) == F.col("pa")) & (F.col(right) == F.col("pb")),
            "left_semi",
        )
    return (
        cand.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )


def skyline_2d(
    df: DataFrame,
    *,
    minimize: str,
    maximize: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pareto frontier (SKYLINE) over two objectives: the rows for
    which no other row is <= on ``minimize`` AND >= on ``maximize``
    with at least one strict — Borzsony et al.'s skyline operator
    (ICDE'01), the "best price for a given quality" query.

    2D skylines reduce to a PREFIX MAX: sort by (minimize asc,
    maximize desc); a row survives iff its ``maximize`` strictly
    exceeds every earlier row's (an earlier row with equal ``maximize``
    has strictly smaller ``minimize`` after dedup, hence dominates).
    A naive window over that order is a single-partition global sort —
    the scale-killer — so the prefix max is computed the same
    TWO-PHASE way as text.pack_documents' prefix sum:

      1. dedup (minimize, maximize) pairs, range-partition on the sort
         key (localCheckpoint pins the nondeterministic row->pid map
         for both consumers, see pack_documents);
      2. per-partition running max — Window PARTITIONED BY pid,
         partition-parallel;
      3. per-partition max subtotals (one row per partition) →
         exclusive prefix max over the metadata-sized pid frame;
      4. broadcast offsets back; a row survives iff
         value > greatest(local prefix max, earlier-partition max).

    Exactly the dominance semantics of the NOT EXISTS definition
    (oracle-checked against a DuckDB window formulation in q155), in
    three bounded shuffles and zero Python."""
    lo, hi = minimize, maximize
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pts = (
        df.select(F.col(lo), F.col(hi))
        .distinct()
        .repartitionByRange(n_parts, F.col(lo).asc(), F.col(hi).desc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = (
        W.partitionBy("__pid")
        .orderBy(F.col(lo).asc(), F.col(hi).desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    subtotals = pts.groupBy("__pid").agg(F.max(F.col(hi)).alias("__sub"))
    off_w = W.orderBy(F.col("__pid").asc()).rowsBetween(W.unboundedPreceding, -1)
    offsets = subtotals.select("__pid", F.max("__sub").over(off_w).alias("__off"))
    # greatest() skips NULLs (returns NULL only when both are), so the
    # first row of the first partition gets __prev NULL -> kept
    prev_max = F.greatest(F.max(F.col(hi)).over(local_w), F.col("__off"))
    return (
        pts.join(F.broadcast(offsets), "__pid")
        .withColumn("__prev", prev_max)
        .where(F.col("__prev").isNull() | (F.col(hi) > F.col("__prev")))
        .select(lo, hi)
    )


def event_transitions(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (src → dst) adjacent event-type pairs in each
    user's timestamp order and row-normalize to transition
    probabilities — the behavioral model behind next-event prediction,
    funnel generalization (q85 is one fixed path; this is all paths),
    and bot detection (improbable transition chains).

    Determinism: the sequence order is (ts, id) — a total order, so
    LEAD is unambiguous; counts exact, prob = one integer-ratio
    division per row.

    Shape: one LEAD window partitioned by user (bounded by per-user
    activity — the q36 sessionization class, never corpus-sized) → one
    (src, dst) groupBy with map-side combine → the #event-types² cell
    frame joins its #event-types row-total frame broadcast. Returns
    (src_type, dst_type, n_transitions, prob)."""
    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    seq = df.select(
        F.col(type_col).alias("src_type"),
        F.lead(type_col).over(w).alias("dst_type"),
    ).where(F.col("dst_type").isNotNull())
    counts = seq.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("src_type").agg(
        F.sum("n_transitions").alias("__tot")
    )
    return (
        counts.join(F.broadcast(totals), "src_type")
        .select(
            "src_type",
            "dst_type",
            "n_transitions",
            (F.col("n_transitions").cast("double") / F.col("__tot")).alias("prob"),
        )
        .orderBy("src_type", "dst_type")
    )


def rfm_segments(
    orders: DataFrame,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    k: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation
    (Hughes, *Strategic Database Marketing* — the classic retention
    scoring grid): per customer, days since last order relative to the
    corpus max date, order count, and exact decimal spend; each metric
    scored 1..k by NTILE with k = best (most recent / most frequent /
    highest spend). Returns the per-(r,f,m)-cell rollup: customer
    count, total orders, spend.

    Scale shape: the per-customer rollup is one combinable groupBy;
    the corpus max date is a 1-row broadcast (metadata, not data);
    each NTILE is the SKEW-PROOF two-phase global rank
    (``windows.grouped_rank_two_phase`` on a constant group — no
    data-sized single-partition window anywhere) composed with the
    closed-form ``ntile_from_rank``, bit-identical to window NTILE.
    Ties are broken by customer id so every rank is deterministic;
    descending metrics rank on the negated column (the two-phase rank
    is ascending by construction).
    """
    from . import windows as _w

    per = orders.groupBy(cust_col).agg(
        F.max(F.col(date_col).cast("date")).alias("__last"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col(amount_col).cast("decimal(18,2)")).alias("__mon"),
    )
    maxd = orders.agg(F.max(F.col(date_col).cast("date")).alias("__maxd"))
    per = per.crossJoin(F.broadcast(maxd)).select(
        F.col(cust_col).alias("__cust"),
        F.datediff("__maxd", "__last").cast("bigint").alias("recency_days"),
        "frequency",
        "__mon",
    )
    # rank keys: k = best ⇒ best must rank LAST (NTILE's top bucket).
    # recency: smaller is better → rank by -recency (ascending);
    # frequency / monetary: bigger is better → rank ascending as-is.
    scored = (
        per.withColumn("__g", F.lit(1))
        .withColumn("__neg_rec", -F.col("recency_days"))
        .withColumn("__mon_key", F.col("__mon"))
    )
    for key, rank_col in (
        ("__neg_rec", "__rk_r"),
        ("frequency", "__rk_f"),
        ("__mon_key", "__rk_m"),
    ):
        scored = _w.grouped_rank_two_phase(
            scored,
            ["__g"],
            [key, "__cust"],
            out_col=rank_col,
            group_size_col="__n" if rank_col == "__rk_r" else None,
        )
    out = scored.select(
        _w.ntile_from_rank("__rk_r", "__n", k).alias("r_score"),
        _w.ntile_from_rank("__rk_f", "__n", k).alias("f_score"),
        _w.ntile_from_rank("__rk_m", "__n", k).alias("m_score"),
        "frequency",
        "__mon",
    )
    return (
        out.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("frequency").cast("bigint").alias("tot_orders"),
            F.sum("__mon").cast("double").alias("monetary_sum"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def survival_curve(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    unit_micros: int = 86_400_000_000,
    churn_gap_units: int = 1,
) -> DataFrame:
    """Kaplan–Meier survival estimate for entity retention (Kaplan &
    Meier JASA 1958) with right-censoring. Time is bucketed to integer
    units (``floor(epoch_us / unit_micros)`` — day by default, hour
    for finer curves): an entity is observed from its first event
    bucket; it CHURNS at its last event bucket if that bucket is ≥
    ``churn_gap_units`` before the corpus max bucket, otherwise it is
    CENSORED at the corpus max bucket (still alive when observation
    ended). At each churn duration t (units, inclusive):
        S(t) = Π_{t' ≤ t} (1 − d_{t'} / n_{t'})
    with d = churns at t', n = entities still at risk entering t'.
    Returns one row per churn duration: (t_units, n_at_risk,
    d_churned, survival) — the retention curve q91's cohort grid
    approximates, with censoring handled correctly.

    Exactness: buckets, d and n are exact BIGINTs; each factor is ONE
    IEEE division and the running product folds in ascending-t order,
    so the curve is bit-stable and the oracle replays it
    row-at-a-time as a recursive CTE over the same histogram
    (q128/q173 discipline).

    Scale shape: per-entity first/last is one combinable groupBy over
    the raw events; everything after operates on the (duration,
    churned) HISTOGRAM — bounded by the observation window in units
    (metadata-sized), so the single-row fold that carries the product
    touches no data-sized state. The corpus max bucket is a 1-row
    broadcast.
    """
    # integer `div`, not floor(double /): epoch micros ~1.7e15 are
    # representable in a double, but the rounded quotient can cross an
    # integer boundary the true quotient sits just below
    days = df.select(
        F.col(entity_col).alias("__e"),
        F.expr(f"unix_micros({ts_col}) div {int(unit_micros)}").cast("bigint").alias("__d"),
    )
    per = days.groupBy("__e").agg(
        F.min("__d").alias("__first"), F.max("__d").alias("__last")
    )
    maxd = days.agg(F.max("__d").alias("__maxd"))
    per = per.crossJoin(F.broadcast(maxd))
    churned = F.col("__last") <= F.col("__maxd") - churn_gap_units
    dur = (
        F.when(churned, F.col("__last") - F.col("__first"))
        .otherwise(F.col("__maxd") - F.col("__first"))
        .cast("bigint")
        + 1
    )
    hist = (
        per.select(dur.alias("t"), churned.cast("bigint").alias("__ch"))
        .groupBy("t")
        .agg(
            F.sum("__ch").cast("bigint").alias("__dch"),
            F.count(F.lit(1)).cast("bigint").alias("__c"),
        )
    )
    packed = hist.agg(
        F.sort_array(F.collect_list(F.struct("t", "__dch", "__c"))).alias("__h"),
        F.sum("__c").cast("bigint").alias("__n0"),
    )
    row_t = "array<struct<t:bigint,n_at_risk:bigint,d_churned:bigint,survival:double>>"
    init = F.struct(
        F.col("__n0").alias("rem"),
        F.lit(1.0).alias("surv"),
        F.array().cast(row_t).alias("rows"),
    )

    def step(acc, x):
        s2 = acc["surv"] * (
            F.lit(1.0) - x["__dch"].cast("double") / acc["rem"].cast("double")
        )
        is_event = x["__dch"] > 0
        new_row = F.struct(
            x["t"].alias("t"),
            acc["rem"].alias("n_at_risk"),
            x["__dch"].alias("d_churned"),
            s2.alias("survival"),
        )
        return F.struct(
            (acc["rem"] - x["__c"]).alias("rem"),
            F.when(is_event, s2).otherwise(acc["surv"]).alias("surv"),
            F.when(is_event, F.concat(acc["rows"], F.array(new_row)))
            .otherwise(acc["rows"])
            .alias("rows"),
        )

    folded = packed.select(F.aggregate("__h", init, step).alias("__f"))
    return (
        folded.select(F.explode("__f.rows").alias("__r"))
        .select(
            F.col("__r.t").alias("t_units"),
            F.col("__r.n_at_risk").alias("n_at_risk"),
            F.col("__r.d_churned").alias("d_churned"),
            F.col("__r.survival").alias("survival"),
        )
        .orderBy("t_units")
    )


def linear_attribution(
    df: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    ppm: int = 1_000_000,
) -> DataFrame:
    """Linear multi-touch attribution with EXACT integer credits: each
    conversion's credit (``ppm`` parts) is split evenly across the
    touches that precede it — and because 1/n is not representable,
    the split is the deterministic integer rule
        base = ppm div n,  first (ppm mod n) touches get base+1
    so every conversion's credits sum to exactly ``ppm`` and both
    engines agree bit-for-bit (no decimal division anywhere — the
    exact-quota discipline of q206).

    Semantics: events are totally ordered per user by (ts, id); every
    event belongs to the NEXT conversion at-or-after it in that order
    (each touch is spent on at most one conversion — the standard
    per-conversion lookback window); a conversion with no preceding
    touches is credited to the synthetic ``(direct)`` channel in full.
    Trailing events after the last conversion influence nothing and
    get nothing.

    Returns per channel: (channel, n_touches, n_conversions,
    credit_ppm) ordered by channel.

    Scale shape: one user-partitioned IGNORE-NULLS forward window
    assigns conversion ids (per-user state only — the q176 neighbor-
    window pattern); touch ranking partitions by (user, conversion) —
    bounded by path length, not user history; the rollup is one
    combinable groupBy. No data-sized window, no cross join.
    """
    from pyspark.sql import Window as W

    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    fwd = (
        W.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    marked = df.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__t"),
    ).withColumn(
        "__conv",
        F.first(
            F.when(F.col("__t") == conversion_type, F.col("__id")), ignorenulls=True
        ).over(
            W.partitionBy("__u")
            .orderBy(F.col("__ts").asc(), F.col("__id").asc())
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        ),
    )
    touches = marked.where(
        (F.col("__t") != conversion_type) & F.col("__conv").isNotNull()
    )
    ranked = touches.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__u", "__conv").orderBy(
                F.col("__ts").asc(), F.col("__id").asc()
            )
        ),
    )
    sized = ranked.withColumn(
        "__n", F.count(F.lit(1)).over(W.partitionBy("__u", "__conv"))
    )
    credit = (
        F.expr(f"CAST({int(ppm)} AS BIGINT) div __n")
        + (F.col("__rn") <= F.expr(f"CAST({int(ppm)} AS BIGINT) % __n")).cast("bigint")
    )
    per_touch = sized.select(
        F.col("__t").alias("channel"),
        F.col("__u").alias("__u"),
        F.col("__conv").alias("__conv"),
        credit.alias("__credit"),
    )
    touched = per_touch.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("__u", "__conv").cast("bigint").alias("n_conversions"),
        F.sum("__credit").cast("bigint").alias("credit_ppm"),
    )
    # conversions with no touches -> (direct)
    convs = marked.where(F.col("__t") == conversion_type).select(
        F.col("__u"), F.col("__id").alias("__conv")
    )
    with_touch = per_touch.select("__u", "__conv").distinct()
    direct = (
        convs.join(with_touch, ["__u", "__conv"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
        .select(
            F.lit("(direct)").alias("channel"),
            F.lit(0).cast("bigint").alias("n_touches"),
            "n_conversions",
            (F.col("n_conversions") * ppm).cast("bigint").alias("credit_ppm"),
        )
        .where(F.col("n_conversions") > 0)
    )
    return touched.unionByName(direct).orderBy("channel")


def ab_test_report(
    events: DataFrame,
    *,
    user_col: str,
    type_col: str,
    conversion_type: str,
    salt: str = "ab1",
) -> DataFrame:
    """Deterministic A/B experiment readout: users are assigned to
    arms by an engine-stable hash split (md5 of salt:user — the
    mixture_sample discipline, so assignment is reproducible and
    replayable, not RNG), conversion = the user ever fired
    ``conversion_type``, and each arm reports its conversion rate with
    a Wilson 95% score interval (Wilson JASA 1927 — the interval that
    behaves at small n and p near 0/1, unlike the Wald interval).

    Exactness: n and c are exact BIGINTs; the rate and the Wilson
    bounds are FIXED-parenthesization double expressions over them —
    and the one transcendental involved, sqrt, is correctly rounded by
    IEEE-754 (unlike ln/pow, which round engine-specifically and are
    banned elsewhere in this codebase), so the bounds value-hash
    across engines. z is the literal 1.96; z² is written 1.96*1.96 in
    both engines rather than a pre-rounded constant.

    Scale shape: two distinct-aggs over events (exposure and
    converters, both map-side combinable) + one left join on user, one
    2-row arm rollup; the scalar interval math runs on the 2-row
    result. Returns (arm, n_users, n_conversions, rate, wilson_lo,
    wilson_hi) ordered by arm.
    """
    from ..functions.hashing import md5_int60

    users = events.select(F.col(user_col).alias("__u")).distinct()
    arm = F.when(
        md5_int60(F.concat(F.lit(salt + ":"), F.col("__u").cast("string"))) % 2 == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    converters = (
        events.where(F.col(type_col) == conversion_type)
        .select(F.col(user_col).alias("__u"))
        .distinct()
        .withColumn("__c", F.lit(1).cast("bigint"))
    )
    per_arm = (
        users.withColumn("arm", arm)
        .join(converters, "__u", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.coalesce("__c", F.lit(0))).cast("bigint").alias("n_conversions"),
        )
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_conversions").cast("double") / n
    z2 = F.lit(1.96) * F.lit(1.96)
    center = p + z2 / (F.lit(2.0) * n)
    half = F.lit(1.96) * F.sqrt(
        (p * (F.lit(1.0) - p)) / n + z2 / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + z2 / n
    return per_arm.select(
        "arm",
        "n_users",
        "n_conversions",
        p.alias("rate"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    ).orderBy("arm")


def bandit_replay(
    events: DataFrame,
    arms: list[str],
    *,
    ts_col: str = "ts",
    id_col: str = "event_id",
    arm_col: str = "event_type",
    reward_col: str = "reward",
) -> DataFrame:
    """Deterministic greedy-bandit OFF-POLICY REPLAY (the rejection-
    sampling replay estimator of Li et al., WSDM'11): walk the logged
    event stream in time order and ask, at every step, which arm a
    greedy policy (highest empirical mean reward so far, unseen arms
    first, all ties to the lexicographically smallest arm) WOULD have
    pulled given the log's own history; score the policy on the steps
    where its pick coincides with the logged arm.

    State resets per DAY — the explicit scale contract: each day's
    replay is an independent sequential fold, so days parallelize
    embarrassingly and no task ever holds more than one day of one
    ordering (the q36 sessionize-by-day shape).

    Determinism: the pick is a row_number over per-step candidate rows
    ordered by (seen ASC, mean DESC NULLS LAST, arm ASC) — `mean` is
    the SAME s/n IEEE division on both engines (identical BIGINTs in,
    identical double out), so the comparison is engine-parity-safe by
    construction; counts are exact. Per-arm stats arrive at each step
    via one exclusive-window forward fill per arm (last_value IGNORE
    NULLS over the day's order of that arm's published inclusive
    stats), i.e. |arms| window passes, not a per-step join.

    Returns per arm: n_log (logged pulls), n_policy (greedy picks),
    n_matched (pick == logged arm), matched_reward, and the replay
    estimate matched_reward / n_matched (ONE division, null when the
    policy never matched)."""
    day = F.to_date(F.col(ts_col)).alias("__day")
    base = events.select(
        day,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(arm_col).alias("__arm"),
        F.col(reward_col).cast("bigint").alias("__r"),
    )
    w_arm = (
        W.partitionBy("__day", "__arm")
        .orderBy(F.col("__ts").asc(), F.col("__id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pub = base.select(
        "__day",
        "__ts",
        "__id",
        "__arm",
        "__r",
        F.struct(
            F.count(F.lit(1)).over(w_arm).cast("bigint").alias("n"),
            F.sum("__r").over(w_arm).cast("bigint").alias("s"),
        ).alias("__incl"),
    )
    w_day_excl = (
        W.partitionBy("__day")
        .orderBy(F.col("__ts").asc(), F.col("__id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    filled = pub
    for a in arms:
        filled = filled.withColumn(
            f"__st_{a}",
            F.last(
                F.when(F.col("__arm") == a, F.col("__incl")), ignorenulls=True
            ).over(w_day_excl),
        )
    cands = filled.select(
        "__day",
        "__ts",
        "__id",
        "__arm",
        "__r",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("cand"),
                        F.coalesce(F.col(f"__st_{a}.n"), F.lit(0))
                        .cast("bigint")
                        .alias("n"),
                        F.coalesce(F.col(f"__st_{a}.s"), F.lit(0))
                        .cast("bigint")
                        .alias("s"),
                    )
                    for a in arms
                ]
            )
        ).alias("__c"),
    )
    mean = F.when(
        F.col("__c.n") > 0, F.col("__c.s").cast("double") / F.col("__c.n")
    )
    w_pick = W.partitionBy("__day", "__ts", "__id").orderBy(
        (F.col("__c.n") > 0).asc(), mean.desc_nulls_last(), F.col("__c.cand").asc()
    )
    picks = (
        cands.withColumn("__rn", F.row_number().over(w_pick))
        .where(F.col("__rn") == 1)
        .select(
            "__arm", "__r", F.col("__c.cand").alias("__pick")
        )
    )
    log_side = base.groupBy(F.col("__arm").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_log")
    )
    pol_side = picks.groupBy(F.col("__pick").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_policy"),
        F.sum((F.col("__pick") == F.col("__arm")).cast("bigint"))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(F.col("__pick") == F.col("__arm"), F.col("__r")).otherwise(0)
        )
        .cast("bigint")
        .alias("matched_reward"),
    )
    return (
        log_side.join(pol_side, "arm", "full_outer")
        .select(
            "arm",
            F.coalesce("n_log", F.lit(0)).cast("bigint").alias("n_log"),
            F.coalesce("n_policy", F.lit(0)).cast("bigint").alias("n_policy"),
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            F.coalesce("matched_reward", F.lit(0))
            .cast("bigint")
            .alias("matched_reward"),
            F.when(
                F.coalesce("n_matched", F.lit(0)) > 0,
                F.col("matched_reward").cast("double") / F.col("n_matched"),
            ).alias("replay_value"),
        )
        .orderBy("arm")
    )


def association_rules(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Association rules from frequent pairs (Agrawal & Srikant
    VLDB'94 rule-generation step): for every frequent pair {A,B},
    both directed rules A=>B and B=>A with exact support counts and
    the classic quality measures

        confidence(A=>B) = supp(AB) / supp(A)
        lift(A=>B)       = confidence / P(B)
                         = (supp(AB) * n_baskets) / (supp(A) * supp(B))

    Every numerator/denominator is an exact BIGINT (pair support from
    frequent_pairs, item supports from the pass-1 frame, n_baskets a
    1-row count broadcast), so the only IEEE operations are the final
    divisions — one per reported measure, same parenthesization in the
    oracle (the repo determinism contract). The lift product
    supp(AB)*n_baskets stays far inside BIGINT (both <= n_baskets,
    which would need ~3e9 baskets squared to wrap — a DECIMAL cast
    guards it anyway, the spearman factor-cast rule).

    Scale shape: frequent_pairs does the heavy lifting (downward
    closure — nothing quadratic in the corpus); rule generation is a
    linear explode of the pair frame plus two equi-joins against the
    item-support frame (AQE broadcasts it when small) and one
    broadcast of the 1-row basket count.

    Returns (antecedent, consequent, pair_support, ante_support,
    cons_support, confidence, lift)."""
    pairs_src = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_baskets = pairs_src.agg(
        F.countDistinct("b").cast("bigint").alias("__n")
    )  # 1-row frame, no collect
    support = pairs_src.groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("item_support")
    )
    fp = frequent_pairs(
        df, basket_col=basket_col, item_col=item_col, min_support=min_support
    )
    directed = fp.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        F.col("support").cast("bigint").alias("pair_support"),
    ).unionByName(
        fp.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            F.col("support").cast("bigint").alias("pair_support"),
        )
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731  (factor cast: 19,0 x 19,0 -> 38,0 exact)
    return (
        directed.join(
            support.select(
                F.col("i").alias("antecedent"),
                F.col("item_support").alias("ante_support"),
            ),
            "antecedent",
        )
        .join(
            support.select(
                F.col("i").alias("consequent"),
                F.col("item_support").alias("cons_support"),
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "pair_support",
            "ante_support",
            "cons_support",
            (
                F.col("pair_support").cast("double")
                / F.col("ante_support").cast("double")
            ).alias("confidence"),
            (
                (dec(F.col("pair_support")) * dec(F.col("__n"))).cast("double")
                / (dec(F.col("ante_support")) * dec(F.col("cons_support"))).cast(
                    "double"
                )
            ).alias("lift"),
        )
    )


def sequential_trigrams(
    df: DataFrame,
    *,
    seq_col: str,
    ts_col: str,
    id_col: str,
    item_col: str,
    top_k: int = 25,
) -> DataFrame:
    """Top-k ORDERED consecutive item trigrams across sequences: for
    every sequence (user), each run of three consecutive items in
    (ts, id) order is a pattern occurrence; patterns are ranked by
    DISTINCT-SEQUENCE support (how many users exhibit the path, not
    how often) — the sequential-pattern step past q154/q183's
    unordered baskets and q170/q208's one-step Markov transitions
    (a trigram captures second-order structure a bigram matrix cannot).

    Plan: one per-sequence lead window (bounded by the sequence's own
    length — the q36/q172 per-user window class), an in-row triple
    projection, then a distinct + count aggregation and
    TakeOrdered(top_k) by (support DESC, pattern ASC) — only k rows
    reach the driver. All counts exact.

    Returns (item_1, item_2, item_3, support)."""
    w = W.partitionBy(seq_col).orderBy(ts_col, id_col)
    tri = (
        df.select(
            F.col(seq_col).alias("__seq"),
            F.col(item_col).alias("i1"),
            F.lead(item_col, 1).over(w).alias("i2"),
            F.lead(item_col, 2).over(w).alias("i3"),
        )
        .where(F.col("i2").isNotNull() & F.col("i3").isNotNull())
        .distinct()
    )
    return (
        tri.groupBy(
            F.col("i1").alias("item_1"),
            F.col("i2").alias("item_2"),
            F.col("i3").alias("item_3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(
            F.col("support").desc(),
            F.col("item_1").asc(),
            F.col("item_2").asc(),
            F.col("item_3").asc(),
        )
        .limit(top_k)
    )


def stationary_distribution(
    transitions: DataFrame,
    *,
    from_col: str,
    to_col: str,
    count_col: str,
    iterations: int = 8,
    domain_bounded: bool | None = None,
    max_inrow_states: int = 512,
) -> DataFrame:
    """Stationary distribution of a first-order Markov chain by power
    iteration over its exact transition COUNTS — where does the
    process spend its time in the long run (the q170/q208 transition
    matrix pushed to its fixpoint; for the event-type chain this is
    the long-run traffic mix a capacity planner keys on).

    Determinism contract: P's entries are count ratios, so each update
    term pi(i) * n_ij / tot_i is ONE fixed-parenthesization IEEE
    product per edge, quantized to DECIMAL(38,18) BEFORE the per-state
    sum — the grouped_moments rule, making the distributed sum exact
    and partition-order-free. pi_0 is uniform (1/#states). The L1
    delta between the last two iterates rides along as the
    convergence readout (ergodic chains converge geometrically; the
    readout makes "did 8 iterations suffice" a checkable value, not a
    hope). The delta is measured AT THE REPORTED round-9 precision of
    pi and itself rounded to 9: the raw delta of a converged chain
    (~1e-15) lives at the decimal-quantization noise floor, where
    DuckDB's double→DECIMAL(38,18) cast (which scales in double
    space) and the JVM's exact BigDecimal conversion disagree by a
    few 1e-18 units per term — the round-11 strict-sweep finding — so
    only a delta coarser than that floor is engine-independent.

    NON-ERGODIC CAVEAT — dangling states LEAK MASS: a state that
    appears only as a destination has no outgoing edges (no row in P),
    so whatever mass flows into it vanishes on the NEXT update and
    sum(pi) drifts below 1 round over round (this is power iteration
    on a SUB-stochastic matrix, not a teleporting PageRank). The
    docstring's convergence story assumes an ergodic chain; on inputs
    with absorbing/dangling states, consumers should sum the returned
    pi column — sum(pi) << 1 is the detection signal — or pre-filter
    to the largest strongly-connected component. The oracle replays
    the identical sub-stochastic algebra, so parity holds either way.

    Scale: the transition matrix is DOMAIN-sized (#states² cells at
    worst — event-type-class domains, metadata at any corpus size), so
    since round 13 the whole power iteration runs IN-ROW: one collect
    pass (a single Exchange) builds a single row of edge structs, the
    out-degree totals n_ij / Σ_j n_ij are summed inside that row (no
    window, so no second Exchange), and the ``iterations`` rounds are
    one ``aggregate`` fold over a literal sequence — zero per-round
    shuffles/jobs where the frame-loop form paid a join + aggregation
    + checkpoint per round (measured 35+ Spark jobs on q267/q287; the
    q239 isotonic in-row precedent).  The in-row work is one task's:
    O(#states × #edges) for the totals and O(#states² × #edges) per
    round (each edge looks its source up in the state array by linear
    scan) — microseconds at q267's 5 states and 25 edges.  The fold is
    written as SQL text, so building it is a handful of py4j calls instead of
    the ~2000 its Python-lambda form made (0.3-0.4 s of driver time
    per build that launched no job).  Per-term arithmetic is UNCHANGED
    (same dec-quantized products, exact decimal sums — order-free, so
    the fold's left-to-right order computes the identical value) and
    the per-round membership rule (a state leaves the pi frame when no
    in-edge from a member state reaches it) is tracked explicitly, so
    output rows and values are bit-identical to the frame-loop form.

    GUARD (round-14, verdict #7): the in-row form collects the whole
    edge set into ONE row, which is only safe while the state domain
    is bounded — a caller with an unbounded key domain would get a
    single-task OOM where the frame-loop degrades gracefully.  The
    100 TB posture is therefore enforced, not assumed:

    - ``domain_bounded=True``  — caller attests the domain is
      metadata-sized (the declared event-type queries: ≤ 5 states at
      any corpus size); in-row, zero extra jobs.
    - ``domain_bounded=False`` — always the distributed frame-loop
      (one edges⋈pi join + combinable sum per round).
    - ``domain_bounded=None`` (default) — one #states count job, then
      in-row iff #states ≤ ``max_inrow_states`` (512 ⇒ ≤ 512² ≈ 262 k
      edge structs ≈ single-digit MB in the fold row).

    Both paths compute bit-identical output (exact decimal sums are
    order-free; pinned by test_stationary_inrow_equals_frameloop).
    Returns (state, pi, l1_delta)."""
    if domain_bounded is None:
        n_states = (
            transitions.select(F.col(from_col).alias("s"))
            .union(transitions.select(F.col(to_col).alias("s")))
            .distinct()
            .count()
        )
        domain_bounded = n_states <= max_inrow_states
    if not domain_bounded:
        return _stationary_frameloop(
            transitions,
            from_col=from_col,
            to_col=to_col,
            count_col=count_col,
            iterations=iterations,
        )
    # accumulator precision 37: (37,18)+(37,18) → (38,18) keeps scale
    # 18 exactly, and the cast back to (37,18) is the identity for
    # |value| < 10^19 (pi ≤ 1) — a (38,18) accumulator would type its
    # additions (38,17), silently rounding the last scale digit away
    # from the distributed DECIMAL(38,18) sum it must reproduce
    dec = "decimal(37,18)"
    e = transitions.select(
        F.col(from_col).alias("__i"),
        F.col(to_col).alias("__j"),
        F.col(count_col).cast("bigint").alias("__n"),
    )
    # __p = n_ij / tot_i with tot_i summed in-row over the source's own
    # edges, not by a window: one Exchange fewer. The edges are grouped
    # per source first (a lambda variable, so each group is built once;
    # a projected totals column would be inlined into the per-edge
    # lambda by CollapseProject): O(#states × #edges) in all.
    row = e.agg(F.expr("array_sort(collect_list(struct(__i, __j, __n))) AS en")).selectExpr(
        "flatten(transform(transform(array_distinct(transform(en, f -> f.__i)),"
        " s -> filter(en, f -> f.__i = s)),"
        " g -> transform(g, ed -> named_struct('__i', ed.__i, '__j', ed.__j, '__p',"
        " CAST(ed.__n AS DOUBLE) / CAST(aggregate(g, 0L, (t, f) -> t + f.__n) AS DOUBLE))))) AS es",
        "array_sort(array_distinct(concat(transform(en, ed -> ed.__i), transform(en, ed -> ed.__j)))) AS sts",
    )
    # 1-based position of a state in sts (#states-bounded scan)
    idx = "CAST(array_position(sts, ed.__i) AS INT)"
    # a member state reaches s along edge ed (the membership rule: a
    # state leaves the pi frame when no in-edge from a member reaches it)
    reach = f"ed.__j = s AND element_at(acc.mb, {idx})"
    # one round: the per-term products are dec-quantized before the
    # exact decimal sum; acc is a bound lambda variable, so the round's
    # expression tree stays O(#states × #edges) — no projection-
    # collapse blowup. prev/pm keep the previous round for the delta.
    step = (
        "named_struct("
        f"'pi', transform(sts, s -> CAST(aggregate(es, CAST(0 AS {dec}), (a, ed) ->"
        f" CAST(a + IF({reach}, CAST(element_at(acc.pi, {idx}) * ed.__p AS {dec}),"
        f" CAST(0 AS {dec})) AS {dec})) AS DOUBLE)),"
        f" 'mb', transform(sts, s -> exists(es, ed -> {reach})),"
        " 'prev', acc.pi, 'pm', acc.mb)"
    )
    pi0 = "transform(sts, _ -> 1.0D / CAST(size(sts) AS DOUBLE))"
    mb0 = "transform(sts, _ -> true)"
    state0 = f"named_struct('pi', {pi0}, 'mb', {mb0}, 'prev', {pi0}, 'pm', {mb0})"
    folded = row.selectExpr(
        "sts",
        f"aggregate(sequence(1, {int(iterations)}), {state0}, (acc, _) -> {step}) AS st",
        # guard: sequence(1, 0) would yield [1, 0] (descending) on an
        # empty state array and element_at(…, 0) throws
        "IF(size(sts) > 0, sequence(1, size(sts)), CAST(array() AS array<int>)) AS ix",
    )
    # l1 delta at reported precision: Σ_s |round(member?pi:0, 9) −
    # round(prev_member?prev:0, 9)| — dec-quantized terms, exact sum
    # (the full-outer + coalesce semantics of the frame-loop form:
    # states absent from a side contribute exact 0)
    delta = (
        f"round(CAST(aggregate(ix, CAST(0 AS {dec}), (a, i) -> CAST(a + CAST(abs("
        "round(IF(element_at(st.mb, i), element_at(st.pi, i), 0.0D), 9)"
        " - round(IF(element_at(st.pm, i), element_at(st.prev, i), 0.0D), 9))"
        f" AS {dec}) AS {dec})) AS DOUBLE), 9) AS l1_delta"
    )
    items = (
        "filter(transform(ix, i -> named_struct('state', element_at(sts, i),"
        " 'pi', round(element_at(st.pi, i), 9), '__m', element_at(st.mb, i))), r -> r.__m)"
    )
    return folded.selectExpr(f"explode({items}) AS __r", delta).selectExpr(
        "__r.state AS state", "__r.pi AS pi", "l1_delta"
    )


def _stationary_frameloop(
    transitions: DataFrame,
    *,
    from_col: str,
    to_col: str,
    count_col: str,
    iterations: int,
) -> DataFrame:
    """Distributed power iteration (the pre-round-13 form, kept as the
    unbounded-domain fallback of ``stationary_distribution``): the
    state frame is #states rows, each round one edge⋈pi join + one
    map-side-combinable decimal sum over the edge frame — no single-row
    collection, so an arbitrarily large state domain degrades into
    ordinary shuffles instead of one-task OOM.  Identical per-term
    arithmetic (dec-quantized products, exact order-free sums) ⇒
    bit-identical output to the in-row fold."""
    dec = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    e = transitions.select(
        F.col(from_col).alias("__i"),
        F.col(to_col).alias("__j"),
        F.col(count_col).cast("bigint").alias("__n"),
    )
    tot = e.groupBy("__i").agg(F.sum("__n").cast("bigint").alias("__tot"))
    edges = e.join(tot, "__i").select(
        "__i", "__j",
        (F.col("__n").cast("double") / F.col("__tot").cast("double")).alias("__p"),
    )
    edges = edges.localCheckpoint(eager=False)  # reused every round
    states = edges.select(F.col("__i").alias("state")).unionByName(
        edges.select(F.col("__j").alias("state"))
    ).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("__k"))  # 1-row, no collect
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "state", (F.lit(1.0) / F.col("__k").cast("double")).alias("pi")
    )

    def step(pi: DataFrame) -> DataFrame:
        return (
            edges.join(pi.withColumnRenamed("state", "__i"), "__i")
            .groupBy(F.col("__j").alias("state"))
            .agg(F.sum(dec(F.col("pi") * F.col("__p"))).alias("__acc"))
            .select("state", F.col("__acc").cast("double").alias("pi"))
        )

    # the last two states (both the initial one when iterations == 0)
    *_, prev, pi = [pi, pi, *fx.rounds(pi, step, iterations)]
    # full outer + coalesce: a state with no incoming edges leaves the
    # pi frame (its mass is exactly 0) — the delta must still count it
    delta = (
        pi.withColumnRenamed("pi", "__new")
        .join(prev.withColumnRenamed("pi", "__old"), "state", "full_outer")
        .agg(
            F.sum(
                dec(
                    F.abs(
                        F.round(F.coalesce(F.col("__new"), F.lit(0.0)), 9)
                        - F.round(F.coalesce(F.col("__old"), F.lit(0.0)), 9)
                    )
                )
            ).alias("__d")
        )
        .select(F.round(F.col("__d").cast("double"), 9).alias("l1_delta"))
    )
    return pi.crossJoin(F.broadcast(delta)).select(
        "state", F.round(F.col("pi"), 9).alias("pi"), "l1_delta"
    )


def decayed_topk(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    halflife_days: int = 7,
    k: int = 25,
    max_halvings: int = 40,
) -> DataFrame:
    """Exponentially time-decayed heavy hitters in EXACT integer
    arithmetic: each event contributes weight 2^-h where h =
    (age_in_days div halflife_days) — a staircase half-life decay
    (one halving per elapsed half-life) that keeps every weight an
    exact power of two, so the distributed sum needs NO floating
    point at all: a row's contribution is the BIGINT
    1 << (max_halvings - h) "micro-units" (2^-max_halvings of an
    event), summed as DECIMAL(38,0).  The trending-now readout whose
    continuous-decay analogue (exp(-λ·age)) would be partition-order
    IEEE roulette — this formulation is bit-exact on any engine at
    any parallelism.

    The reference timestamp is data-derived (max ts — one 1-row
    broadcast, never driver wall-clock), so results are reproducible.
    Events older than ``max_halvings`` half-lives contribute 0 (below
    resolution; documented cutoff, not drift).

    Scale: one narrow projection + one map-side-combinable agg +
    TakeOrdered(k).  Returns (key, n_events, score, last_seen) where
    score = units / 2^max_halvings rounded to 6 — one IEEE division
    per OUTPUT row."""
    ref = df.agg(F.max(ts_col).alias("__ref"))
    h = F.expr(
        f"least((unix_micros(__ref) - unix_micros(__ts)) div {86_400_000_000 * int(halflife_days)}, "
        f"cast({int(max_halvings)} as bigint))"
    )
    # shiftleft needs a COLUMN shift amount — expr form (the DataFrame
    # API's shiftLeft only takes a literal numBits)
    units = F.expr(
        f"shiftleft(cast(1 as bigint), cast({int(max_halvings)} - __h as int))"
    )
    base = (
        df.select(F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts"))
        .crossJoin(F.broadcast(ref))
        .withColumn("__h", h)
        .select("__k", "__ts", units.alias("__u"))
    )
    agg = base.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("__u").cast("decimal(38,0)")).alias("__units"),
        F.max("__ts").alias("last_seen"),
    )
    return (
        agg.select(
            F.col("__k").alias("key"),
            "n_events",
            F.round(
                F.col("__units").cast("double") / F.lit(float(1 << max_halvings)), 6
            ).alias("score"),
            "last_seen",
        )
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(k)
    )


def weighted_reservoir_sample(
    df: DataFrame,
    *,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, via the
    Efraimidis–Spirakis exponential-clocks formulation (A-ES, IPL
    2006): draw key(i) = −ln(u_i)/w_i and keep each group's k
    SMALLEST keys — exactly the distribution of sequential weighted
    draws without replacement (the min of exponential clocks with
    rate w is the first arrival).  The training-data primitive behind
    "sample k docs per source ∝ quality weight".

    Engine-stable randomness: u_i = (md5_int60(id ⊕ seed) + 1)/2^60 ∈
    (0, 1] — content-derived, no RNG state, so any engine (and the
    DuckDB oracle) reproduces the identical sample; key(i) is ONE
    fixed-parenthesization IEEE expression from that exact integer
    (the ln/division precedent of q186/q158).  Rows with w <= 0 are
    excluded (they have probability 0; −ln(u)/w would flip sign).

    Scale: a narrow projection + ``grouped_top_k`` — the salted
    two-phase per-group rank, so a hot group spreads over 64 tasks;
    never a global sort.  Returns (group_cols..., draw_rank, id,
    weight, aes_key round 9) ordered by (group, draw_rank)."""
    from ..functions.hashing import md5_int60
    from .topk import grouped_top_k

    u = (
        md5_int60(F.concat(F.col(id_col).cast("string"), F.lit(f"|{int(seed)}")))
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    base = (
        df.where(F.col(weight_col) > 0)
        .select(
            *[F.col(c) for c in group_cols],
            F.col(id_col),
            F.col(weight_col),
            (-F.log(u) / w).alias("__key"),
        )
    )
    ranked = grouped_top_k(
        base,
        list(group_cols),
        k,
        [F.col("__key").asc(), F.col(id_col).asc()],
        out_col="draw_rank",
    )
    return ranked.select(
        *[F.col(c) for c in group_cols],
        F.col("draw_rank"),
        F.col(id_col),
        F.col(weight_col),
        F.round(F.col("__key"), 9).alias("aes_key"),
    ).orderBy(*group_cols, "draw_rank")


def markov_entropy_rate(
    transitions: DataFrame,
    *,
    from_col: str,
    to_col: str,
    count_col: str,
    iterations: int = 8,
    domain_bounded: bool | None = None,
) -> DataFrame:
    """Entropy rate of the first-order Markov chain (Shannon 1948):
    H = −Σ_i π_i Σ_j p_ij ln p_ij — bits-per-step unpredictability of
    the process under its long-run mix, the single number comparing
    "how routine is this event stream" across deployments (q170's
    matrix and q267's fixpoint composed into an information
    readout).

    π comes from ``stationary_distribution``'s OUTPUT (8 power
    rounds, pi ROUNDED TO 9 — the documented engine artifact, reused
    so the oracle multiplies bit-identical factors); each per-edge
    term π_i·p_ij·ln(p_ij) is quantized to DECIMAL(38,18) before the
    sum.  ``sum_pi`` rides along as the dangling-state mass-leak
    self-check the q267 advice asked consumers to watch (sum << 1 =
    non-ergodic input).

    Scale: one edges⋈π join + two combinable sums after the q267
    iteration budget.  Returns ONE row (n_states, n_edges,
    entropy_rate, sum_pi) round 6."""
    dec = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    pi = stationary_distribution(
        transitions,
        from_col=from_col,
        to_col=to_col,
        count_col=count_col,
        iterations=iterations,
        domain_bounded=domain_bounded,
    ).select("state", "pi")
    e = transitions.select(
        F.col(from_col).alias("__i"),
        F.col(to_col).alias("__j"),
        F.col(count_col).cast("bigint").alias("__n"),
    )
    # per-source totals as a window over the domain-sized transition
    # frame — one exchange instead of an aggregation + join-back
    # (round-13, guide §2.4); __tot is the same exact BIGINT sum
    from pyspark.sql import Window as W

    edges = e.withColumn(
        "__tot", F.sum("__n").over(W.partitionBy("__i")).cast("bigint")
    ).select(
        "__i",
        "__j",
        (F.col("__n").cast("double") / F.col("__tot").cast("double")).alias("__p"),
    )
    h = (
        edges.join(pi.withColumnRenamed("state", "__i"), "__i")
        .agg(
            F.sum(dec(F.col("pi") * F.col("__p") * F.log("__p"))).alias("__h"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        )
    )
    s = pi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_states"),
        F.sum(dec(F.col("pi"))).alias("__spi"),
    )
    # a fully-draining chain (every state dangling within 8 rounds)
    # leaves the pi frame EMPTY — its sums are NULL; report exact 0s
    # (no surviving mass, no weighted transitions) instead
    return s.crossJoin(F.broadcast(h)).select(
        "n_states",
        "n_edges",
        F.round(
            -F.coalesce(F.col("__h").cast("double"), F.lit(0.0)), 6
        ).alias("entropy_rate"),
        F.round(
            F.coalesce(F.col("__spi").cast("double"), F.lit(0.0)), 6
        ).alias("sum_pi"),
    )


def session_surprise(
    events: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    k: int = 20,
) -> DataFrame:
    """Per-session behavioral anomaly score: mean −ln P(next | prev)
    of each (user, day) session's consecutive event-type transitions
    under the GLOBAL first-order Markov model (the q170 transition
    matrix used as a scorer) — which sessions walk improbable paths,
    the sequence-level fraud/bot signal next to q235's bandit replay
    and q285's document LM gate.

    The model is fitted on the same stream it scores (every observed
    transition has n_ij >= 1, so probabilities are finite — the
    leave-in convention of exploratory anomaly scans, documented).
    Each transition's −ln(n_ij/tot_i) is one IEEE expression over
    exact BIGINTs quantized to DECIMAL(28,12) before the per-session
    sum (q158 rule); sessions below 2 events have no transitions and
    drop out.

    Scale: one per-user-day lag window (bounded by the user's own
    day activity), one model aggregation, one AQE-sized model join,
    TakeOrdered(k).  Returns (user_id, day, n_transitions, nll) top-k
    by (nll DESC, user_id, day)."""
    w = W.partitionBy(user_col, F.to_date(F.col(ts_col))).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(
            F.col(user_col).alias("__u"),
            F.to_date(F.col(ts_col)).alias("__day"),
            F.col(type_col).alias("__to"),
            F.lag(F.col(type_col)).over(w).alias("__from"),
        )
        .where(F.col("__from").isNotNull())
        .localCheckpoint(eager=False)  # feeds the model agg AND scoring
    )
    counts = pairs.groupBy("__from", "__to").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    tot = counts.groupBy("__from").agg(F.sum("__n").cast("bigint").alias("__t"))
    model = counts.join(tot, "__from").select(
        "__from",
        "__to",
        (F.col("__n").cast("double") / F.col("__t").cast("double")).alias("__p"),
    )
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    per = (
        pairs.join(model, ["__from", "__to"])
        .groupBy("__u", "__day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum(dec(-F.log("__p"))).alias("__s"),
        )
    )
    return (
        per.select(
            F.col("__u").alias("user_id"),
            F.col("__day").alias("day"),
            "n_transitions",
            F.round(
                F.col("__s").cast("double") / F.col("n_transitions").cast("double"),
                6,
            ).alias("nll"),
        )
        .orderBy(F.col("nll").desc(), F.col("user_id").asc(), F.col("day").asc())
        .limit(k)
    )


def decision_stump(
    df: DataFrame,
    *,
    value_col: str,
    label_col: str,
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Exact best-split decision stump (the 1-level CART feature
    screen, Breiman 1984): per group, the threshold c on ``value_col``
    that minimizes the weighted Gini impurity of the binary
    ``label_col`` under the split ``v <= c`` vs ``v > c`` — the
    standard "is this feature worth anything" readout a training-data
    pipeline runs before committing to a model.

    Determinism contract (the q240 discrete-cut discipline): candidate
    thresholds are the DISTINCT DATA VALUES themselves (every split
    boundary is a bit-identical parquet double — never an interpolated
    midpoint), the per-side counts are exact BIGINTs off a cumulative
    window over the distinct-value histogram, and the impurity

        gini(c) = ( (nL² − pL² − qL²)/nL + (nR² − pR² − qR²)/nR ) / n

    is evaluated with this exact parenthesization on both engines —
    integer inputs below 2^53 through correctly-rounded IEEE ops give
    a bit-identical double, so the (impurity ASC, split ASC) argmin is
    engine-stable. The all-left split (c = group max) is excluded so
    the right side is never empty.

    Scale shape: one combinable groupBy to the per-group distinct-
    value histogram (quantize continuous features first — the
    kendall_tau_b grid rule), one cumulative window + one rank window
    over that histogram, nothing data-sized after the first
    aggregation. Counts are exact below n ≈ 9.4e7 per group (n² <
    2^53); beyond that, swap the squares to DECIMAL(38,0) — noted, not
    needed at this corpus.

    Returns per group: group_keys + (split_value, n_left, pos_left,
    n_right, pos_right, gini) with gini rounded to 6dp.
    """
    gk = list(group_keys or [])
    v = F.col(value_col).cast("double")
    y = F.col(label_col).cast("bigint")
    hist = (
        df.where(v.isNotNull())
        .groupBy(*gk, v.alias("__hv"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.sum(y).cast("bigint").alias("__p"),
        )
    )
    w_cum = (
        W.partitionBy(*gk)
        .orderBy("__hv")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy(*gk)
    cum = hist.select(
        *gk,
        "__hv",
        F.sum("__c").over(w_cum).alias("__nl"),
        F.sum("__p").over(w_cum).alias("__pl"),
        F.sum("__c").over(w_all).alias("__n"),
        F.sum("__p").over(w_all).alias("__pt"),
    )
    nl = F.col("__nl").cast("double")
    pl = F.col("__pl").cast("double")
    ql = (F.col("__nl") - F.col("__pl")).cast("double")
    nr = (F.col("__n") - F.col("__nl")).cast("double")
    pr = (F.col("__pt") - F.col("__pl")).cast("double")
    qr = ((F.col("__n") - F.col("__nl")) - (F.col("__pt") - F.col("__pl"))).cast(
        "double"
    )
    n = F.col("__n").cast("double")
    gini = (
        (nl * nl - pl * pl - ql * ql) / nl + (nr * nr - pr * pr - qr * qr) / nr
    ) / n
    scored = cum.where(F.col("__nl") < F.col("__n")).select(
        *gk,
        F.col("__hv").alias("split_value"),
        F.col("__nl").alias("n_left"),
        F.col("__pl").alias("pos_left"),
        (F.col("__n") - F.col("__nl")).alias("n_right"),
        (F.col("__pt") - F.col("__pl")).alias("pos_right"),
        gini.alias("__g"),
    )
    w_best = W.partitionBy(*gk).orderBy(F.col("__g").asc(), F.col("split_value").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w_best))
        .where(F.col("__rk") == 1)
        .select(
            *gk,
            "split_value",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.round(F.col("__g"), 6).alias("gini"),
        )
        .orderBy(*gk)
    )


def simpsons_reversal(
    df: DataFrame,
    *,
    segment_col: str,
    cohort_col: str,
    outcome_col: str,
) -> DataFrame:
    """Simpson's-paradox audit (Simpson 1951; the fairness/bias check
    a curation pipeline runs before trusting a pooled success-rate
    comparison): for a binary ``cohort_col`` (a vs b) and a binary
    ``outcome_col``, compare the two cohorts' success rates within
    every segment AND pooled, and flag segments whose direction
    contradicts the pooled direction — the association reversal that
    means the pooled table is confounded by segment mix.

    Fully integer-exact: every direction test is the cross-multiplied
    comparison ``pos_a * n_b  vs  pos_b * n_a`` (BIGINT products —
    exact below n ≈ 3e9 per side; DECIMAL(38,0) beyond), so no rate
    division ever decides a flag. The round-6 rates in the output are
    display-only, one IEEE division each.

    Scale shape: one combinable groupBy to the (segment × cohort)
    count frame, a 1-row pooled broadcast onto the #segments-row
    frame. Nothing data-sized after the first aggregation.

    Returns one row per segment: segment, n_a, pos_a, n_b, pos_b,
    rate_a, rate_b, seg_dir, pooled_dir, reversal — dir is the sign
    (-1/0/1) of rate_a - rate_b, decided integer-exactly; reversal is
    true when seg_dir * pooled_dir = -1 (strict flips only, the
    textbook reading).
    """
    seg = F.col(segment_col)
    coh = F.col(cohort_col).cast("int")
    out = F.col(outcome_col).cast("bigint")
    cells = (
        df.where(seg.isNotNull())
        .groupBy(seg.alias("segment"))
        .agg(
            F.sum(coh.cast("bigint")).alias("n_a"),
            F.sum(F.when(coh == 1, out).otherwise(F.lit(0))).alias("pos_a"),
            F.sum((F.lit(1) - coh).cast("bigint")).alias("n_b"),
            F.sum(F.when(coh == 0, out).otherwise(F.lit(0))).alias("pos_b"),
        )
    )
    pooled = cells.agg(
        F.sum("n_a").alias("__ta"),
        F.sum("pos_a").alias("__tpa"),
        F.sum("n_b").alias("__tb"),
        F.sum("pos_b").alias("__tpb"),
    )

    def sign(pa, na, pb, nb):
        lhs = pa * nb
        rhs = pb * na
        return (
            F.when(lhs > rhs, F.lit(1))
            .when(lhs < rhs, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int")
        )

    j = cells.crossJoin(F.broadcast(pooled))
    seg_dir = sign(F.col("pos_a"), F.col("n_a"), F.col("pos_b"), F.col("n_b"))
    pooled_dir = sign(F.col("__tpa"), F.col("__ta"), F.col("__tpb"), F.col("__tb"))
    return j.select(
        "segment",
        "n_a",
        "pos_a",
        "n_b",
        "pos_b",
        F.round(F.col("pos_a").cast("double") / F.col("n_a"), 6).alias("rate_a"),
        F.round(F.col("pos_b").cast("double") / F.col("n_b"), 6).alias("rate_b"),
        seg_dir.alias("seg_dir"),
        pooled_dir.alias("pooled_dir"),
        ((seg_dir * pooled_dir) == F.lit(-1)).alias("reversal"),
    ).orderBy("segment")
