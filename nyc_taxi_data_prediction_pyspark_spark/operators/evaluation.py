"""Ranking / classifier evaluation statistics, exact (north-star
extension: model-eval readouts a training-data pipeline runs next to
its curation gates — reference parity anchor: the readme's verification
aggregates, readme.md:139-190, generalized to eval metrics).

Everything here follows the repo's determinism contract: confusion /
rank statistics are reduced to BIGINT (or exact DECIMAL) aggregates
with ONE IEEE division per reported metric, so the DuckDB oracle
hash-matches bit-for-bit. No engine-dependent libm (exp/ln) anywhere;
sqrt appears only where IEEE-754 requires correct rounding (Spearman's
denominator — the q223 Wilson-interval precedent).

Scale shapes: every operator aggregates to a DISTINCT-VALUE frame
first (one row per distinct score — bounded by value cardinality, not
row count), then runs its cumulative statistics through
windows.grouped_cumsum_two_phase, the skew-proof two-phase prefix sum
— no global single-task window on a data-sized frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .windows import grouped_cumsum_two_phase


def roc_auc(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    group_keys: list[str] | None = None,
    two_phase: bool = True,
) -> DataFrame:
    """Exact tie-corrected ROC AUC (= the Mann-Whitney U statistic
    normalized by n_pos * n_neg) of ``score_col`` as a ranker for the
    0/1 ``label_col``.

    Exact form: collapse to one row per distinct score with BIGINT
    (pos_g, neg_g) counts; with cum_neg_g = sum of neg strictly below
    the score,

        2 * U = sum_g (2 * cum_neg_g * pos_g + pos_g * neg_g)

    (each positive beats every negative below it and half-credits the
    negatives tied with it). AUC = 2U / (2 * n_pos * n_neg) — BIGINT
    numerator and denominator, one division, round 6.

    Returns per group: n_pos, n_neg, auc_num2 (=2U, the exact BIGINT),
    auc.
    """
    gk = list(group_keys or [])
    y = F.col(label_col).cast("bigint")
    g = (
        df.where(F.col(score_col).isNotNull())
        .groupBy(*gk, score_col)
        .agg(
            F.sum(y).cast("bigint").alias("__pos"),
            (F.count(F.lit(1)) - F.sum(y)).cast("bigint").alias("__neg"),
        )
    )
    c = grouped_cumsum_two_phase(
        g, gk, [score_col], ["__neg"], exclusive=True, two_phase=two_phase
    )
    out = c.groupBy(*gk).agg(
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum("__neg").cast("bigint").alias("n_neg"),
        F.sum(
            F.lit(2) * F.col("__cum___neg") * F.col("__pos")
            + F.col("__pos") * F.col("__neg")
        )
        .cast("bigint")
        .alias("auc_num2"),
    )
    return out.select(
        *gk,
        "n_pos",
        "n_neg",
        "auc_num2",
        # guard: a single-class input has no ranking to score (and
        # ANSI mode turns the 0-denominator into an error, not a NaN)
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("auc_num2").cast("double")
                / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def ks_two_sample(
    df: DataFrame,
    *,
    value_col: str,
    sample_col: str,
    two_phase: bool = True,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the two
    samples named by boolean ``sample_col`` (True = sample A):

        D = max over distinct v of |ECDF_A(v) - ECDF_B(v)|

    kept rational: D = d_scaled / (n_a * n_b) with BIGINT
    d_scaled = max |cum_a * n_b - cum_b * n_a| over inclusive
    cumulative counts at each pooled distinct value. Reports the
    smallest value attaining the max (``ks_at``) for a deterministic
    argmax. One row out: n_a, n_b, d_scaled, ks_d (one division).

    Scale: one distinct-value aggregation, one two-phase prefix sum,
    one metadata reduce — never a global data-sized sort task.
    """
    a = F.col(sample_col).cast("boolean")
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(a.cast("bigint")).cast("bigint").alias("__a"),
            F.sum((~a).cast("bigint")).cast("bigint").alias("__b"),
        )
    )
    c = grouped_cumsum_two_phase(
        g, [], [value_col], ["__a", "__b"], exclusive=False, two_phase=two_phase
    )
    tot = c.groupBy().agg(
        F.max("__cum___a").cast("bigint").alias("n_a"),
        F.max("__cum___b").cast("bigint").alias("n_b"),
    )
    gaps = c.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("__cum___a") * F.col("n_b") - F.col("__cum___b") * F.col("n_a")
        )
        .cast("bigint")
        .alias("__d"),
        F.col(value_col).cast("double").alias("__v"),
    )
    # deterministic argmax: max d, then the SMALLEST value attaining it
    out = gaps.groupBy("n_a", "n_b").agg(
        F.max(F.struct(F.col("__d").alias("d"), (-F.col("__v")).alias("nv"))).alias(
            "__m"
        )
    )
    return out.select(
        "n_a",
        "n_b",
        F.col("__m.d").alias("d_scaled"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("__m.d").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ),
        ).alias("ks_d"),
        (-F.col("__m.nv")).alias("ks_at"),
    )


def calibration_report(
    df: DataFrame,
    *,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Brier score, partition-order-proof.

    Rows land in bin floor(p * bins) (clamped to bins-1). Per bin:
    n, n_pos, mean predicted probability and the empirical positive
    rate (each ONE division over a DECIMAL(28,10)-quantized sum — the
    grouped_autocorr rule, so the distributed float sum is
    order-independent), and the signed calibration gap. The corpus
    Brier score sum( (p - y)^2 ) / N and the expected calibration
    error sum( n_b * |gap_b| ) / N ride on every row from a 1-row
    broadcast (allowlisted BNL shape).
    """
    dec = lambda c: c.cast("decimal(28,10)")  # noqa: E731
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("bigint")
    b = F.least(F.floor(p * bins).cast("bigint"), F.lit(bins - 1))
    base = df.where(p.isNotNull()).select(
        b.alias("bin"), p.alias("__p"), y.alias("__y")
    )
    per = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__y").cast("bigint").alias("n_pos"),
        F.sum(dec(F.col("__p"))).alias("__sp"),
        F.sum(dec((F.col("__p") - F.col("__y")) * (F.col("__p") - F.col("__y")))).alias(
            "__sq"
        ),
    )
    per = per.select(
        "bin",
        "n",
        "n_pos",
        (F.col("__sp").cast("double") / F.col("n")).alias("mean_pred"),
        (F.col("n_pos").cast("double") / F.col("n")).alias("frac_pos"),
        "__sq",
    ).withColumn("gap", F.col("mean_pred") - F.col("frac_pos"))
    tot = per.groupBy().agg(
        F.sum("n").cast("bigint").alias("__n"),
        F.sum("__sq").alias("__sqs"),
        F.sum(dec(F.col("n") * F.abs(F.col("gap")))).alias("__ece_num"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round("mean_pred", 6).alias("mean_pred"),
            F.round("frac_pos", 6).alias("frac_pos"),
            F.round("gap", 6).alias("gap"),
            F.round(F.col("__sqs").cast("double") / F.col("__n"), 6).alias("brier"),
            F.round(F.col("__ece_num").cast("double") / F.col("__n"), 6).alias("ece"),
        )
        .orderBy("bin")
    )


def gini_lorenz(
    df: DataFrame,
    *,
    group_keys: list[str],
    value_col: Column,
    tiebreak_col: str,
    deciles: int = 10,
    two_phase: bool = True,
) -> DataFrame:
    """Per-group Gini coefficient + Lorenz-curve decile points over a
    non-negative INTEGER-SCALED ``value_col`` (pass cents, not dollars
    — concentration readout, the q178 Pareto/ABC family's
    chance-corrected cousin).

    Exact form: with x_(1) <= ... <= x_(n) (ties broken by
    ``tiebreak_col`` for a total order — rank statistics over ties in
    x are Gini-invariant because equal x contribute equally whatever
    their relative rank),

        G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))

    — the rank-value products are computed as DECIMAL(18,0) x
    DECIMAL(19,0) -> DECIMAL(38,0), inside Spark's exact-precision
    envelope (a bigint product would wrap silently at ~1e11-row
    groups), sums carry DECIMAL(38,0), one division per metric. Ranks
    come from windows.grouped_rank_two_phase (skew-proof); the Lorenz
    points are cumulative value shares at each in-group decile
    boundary (ntile_from_rank's closed-form buckets), one division
    each, over a deciles-per-group metadata frame.

    Returns one row per (group, decile) with the group's n,
    total_scaled, gini repeated and that decile's cum_share.
    """
    from .windows import grouped_rank_two_phase, ntile_from_rank

    gk = list(group_keys)
    base = df.select(
        *gk, value_col.cast("bigint").alias("__x"), F.col(tiebreak_col).alias("__tb")
    )
    ranked = grouped_rank_two_phase(
        base,
        gk,
        ["__x", "__tb"],
        out_col="__r",
        two_phase=two_phase,
        group_size_col="__n",
    )
    ranked = ranked.withColumn(
        "__dec", ntile_from_rank("__r", "__n", deciles).cast("int")
    )
    per_dec = ranked.groupBy(*gk, "__dec").agg(
        F.max("__n").cast("bigint").alias("n"),
        F.sum(F.col("__x").cast("decimal(38,0)")).alias("__dx"),
        F.sum(
            F.col("__r").cast("decimal(18,0)") * F.col("__x").cast("decimal(19,0)")
        ).alias("__drx"),
    )
    # cumulative over <= `deciles` rows per group — metadata-sized
    wc = (
        W.partitionBy(*gk)
        .orderBy(F.col("__dec").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wg = W.partitionBy(*gk)
    out = per_dec.select(
        *gk,
        F.col("__dec").alias("decile"),
        "n",
        F.sum("__dx").over(wc).alias("__cum"),
        F.sum("__dx").over(wg).alias("__tot"),
        F.sum("__drx").over(wg).alias("__srx"),
    )
    gini = (
        F.lit(2).cast("decimal(38,0)") * F.col("__srx")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("__tot")
    ).cast("double") / (
        F.col("n").cast("decimal(38,0)") * F.col("__tot")
    ).cast("double")
    pos_total = F.col("__tot") > 0
    return out.select(
        *gk,
        "decile",
        "n",
        F.col("__tot").cast("double").alias("total_scaled"),
        F.when(
            pos_total,
            F.round(
                F.col("__cum").cast("double") / F.col("__tot").cast("double"), 6
            ),
        ).alias("cum_share"),
        F.when(pos_total, F.round(gini, 6)).alias("gini"),
    ).orderBy(*gk, "decile")


def spearman_rho(
    df: DataFrame,
    *,
    x_col: str,
    y_col: str,
    group_keys: list[str] | None = None,
    two_phase: bool = True,
) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation: Pearson over
    FRACTIONAL (midrank) ranks, with every rank kept integer by the
    2x scaling r2(v) = 2 * cum_below(v) + cnt(v) + 1 (twice the
    average rank of v's tie group), so the moment sums are exact.

    rho = (n * Sxy - Sx * Sy)
          / (sqrt(n * Sxx - Sx^2) * sqrt(n * Syy - Sy^2))

    over the 2x ranks — the 2x factors cancel. Each rank FACTOR is
    cast to DECIMAL(19,0) before the multiply and the products are
    summed as DECIMAL(38,0) (a bigint rank product wraps int64 at
    ~1.5e9-row groups, so the decimal cast must precede the multiply,
    not just the sum); sqrt is IEEE-correctly-rounded, the final
    expression is ONE fixed parenthesization, round 6.

    Scale shape: two distinct-value collapses (one per axis), midranks
    via the two-phase exclusive prefix sum (never a data-sized
    single-task window), two equi-join rank attachments, one 6-sum
    moment reduce per group.
    """
    gk = list(group_keys or [])

    def ranks2(col: str, out: str) -> DataFrame:
        g = (
            df.where(F.col(col).isNotNull())
            .groupBy(*gk, col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
        )
        c = grouped_cumsum_two_phase(
            g, gk, [col], ["__cnt"], exclusive=True, two_phase=two_phase
        )
        return c.select(
            *gk,
            col,
            (F.lit(2) * F.col("__cum___cnt") + F.col("__cnt") + 1)
            .cast("bigint")
            .alias(out),
        )

    rx = ranks2(x_col, "__rx")
    ry = ranks2(y_col, "__ry")
    rows = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .join(rx, [*gk, x_col])
        .join(ry, [*gk, y_col])
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # each FACTOR is cast to decimal BEFORE the multiply (the
    # gini_lorenz rank-product pattern): a BIGINT product of 2x-ranks
    # wraps int64 at ~1.5e9-row groups, so the overflow must be kept
    # out of the per-row multiply, not just the sum
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = rows.groupBy(*gk).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("__rx"))).alias("__sx"),
        F.sum(dec(F.col("__ry"))).alias("__sy"),
        F.sum(d19(F.col("__rx")) * d19(F.col("__ry"))).cast("decimal(38,0)").alias("__sxy"),
        F.sum(d19(F.col("__rx")) * d19(F.col("__rx"))).cast("decimal(38,0)").alias("__sxx"),
        F.sum(d19(F.col("__ry")) * d19(F.col("__ry"))).cast("decimal(38,0)").alias("__syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    denx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    deny = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    return m.select(
        *gk,
        "n",
        # constant x or y has no rank variance — NULL, not an ANSI error
        F.when(
            (denx > 0) & (deny > 0),
            F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6),
        ).alias("spearman_rho"),
    ).orderBy(*gk)


def isotonic_calibration(
    df: DataFrame,
    *,
    prob_col: str,
    label_col: str,
    bins: int = 60,
) -> DataFrame:
    """Isotonic (PAV) calibration of a score against 0/1 labels — the
    nonparametric monotone recalibrator (Zadrozny & Elkan KDD'02),
    computed EXACTLY in DataFrame algebra via the minimax identity

        iso_i = max_{j<=i} min_{k>=i} avg(y over bins j..k)

    which equals the pool-adjacent-violators fit (Robertson, Wright &
    Dykstra 1988, thm 1.4.4) with no sequential merge loop to
    distribute.

    Shape: one data pass bins the scores (floor(p*bins), clamped);
    the per-bin (w, sum_y) frame collapses to ONE metadata row of
    arrays, where nested higher-order functions evaluate the minimax
    over integer prefix sums — O(bins^3) codegen arithmetic on one
    row, no shuffle, no UDF. Every average is one BIGINT-exact IEEE
    division; min/max over identical doubles on both engines.

    Returns per non-empty bin: bin, n, n_pos, raw_rate, iso_rate
    (monotone non-decreasing by construction).
    """
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("bigint")
    b = F.least(F.floor(p * bins).cast("bigint"), F.lit(bins - 1))
    per = (
        df.where(p.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("w"),
            F.sum(y).cast("bigint").alias("sy"),
        )
    )
    arrs = per.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("bin"), F.col("w"), F.col("sy")))
        ).alias("__r")
    )
    arrs = arrs.select(
        F.transform("__r", lambda r: r["bin"]).alias("bins"),
        F.transform("__r", lambda r: r["w"]).alias("w"),
        F.transform("__r", lambda r: r["sy"]).alias("sy"),
        F.size("__r").alias("n"),
    )
    zero = F.lit(0).cast("bigint")
    prefix = lambda col: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.col("n")),
        lambda t: F.aggregate(
            F.slice(F.col(col), F.lit(1), t), zero, lambda acc, x: acc + x
        ),
    )
    arrs = arrs.select("bins", "w", "sy", "n", prefix("w").alias("pw"), prefix("sy").alias("psy"))
    avg = lambda j, k: (  # noqa: E731
        F.element_at("psy", k + F.lit(2)) - F.element_at("psy", j + F.lit(1))
    ).cast("double") / (
        F.element_at("pw", k + F.lit(2)) - F.element_at("pw", j + F.lit(1))
    ).cast("double")
    fit = F.transform(
        F.sequence(F.lit(0), F.col("n") - 1),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.array_min(
                    F.transform(
                        F.sequence(i, F.col("n") - 1), lambda k: avg(j, k)
                    )
                ),
            )
        ),
    )
    out = arrs.select(
        F.posexplode(
            F.arrays_zip(
                F.col("bins").alias("bin"),
                F.col("w").alias("n"),
                F.col("sy").alias("n_pos"),
                fit.alias("iso"),
            )
        ).alias("__i", "__z")
    )
    return out.select(
        F.col("__z.bin").alias("bin"),
        F.col("__z.n").alias("n"),
        F.col("__z.n_pos").alias("n_pos"),
        F.round(F.col("__z.n_pos").cast("double") / F.col("__z.n"), 6).alias(
            "raw_rate"
        ),
        F.round(F.col("__z.iso"), 6).alias("iso_rate"),
    ).orderBy("bin")


def woe_iv(
    df: DataFrame,
    *,
    value_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature scoring (the
    credit-scoring feature-selection classic; Siddiqi 2006): bucket a
    numeric feature into its exact global deciles and ask how well the
    buckets separate positives from negatives.

        WOE_b = ln( p_b / q_b ),   IV = sum_b (p_b - q_b) * WOE_b

    with p/q the add-one-smoothed positive/negative bucket shares —
    IV is exactly the q224 PSI algebra applied class-conditionally
    instead of across time, so it inherits the whole determinism
    contract, which after two driver reds (rounds 10 and 11) has TWO
    hardened layers:

    * **bucket assignment** — the decile cuts are type-1 DISCRETE
      order statistics from ``aggregates.discrete_quantile_cuts``
      (actual data values picked by integer rank arithmetic), NOT
      type-7 interpolated floats. The round-11 red proved the
      interpolated form unfixable at per-row scale: at sf0.01 five of
      the nine cuts land exactly on tied data values (11 boundary
      rows), and a 1-ulp interpolation-form/FMA difference between
      engines computes the cut just below the tie, silently moving
      the tied rows one bucket up — rows/schema still match, BIGINT
      counts don't. With cuts that ARE data values the ``>`` fold
      compares bit-identical parquet doubles, which removes the
      tied-cut layer of cross-engine drift.
    * **ln outputs** — EVERY ln-derived output, the bare ``woe``
      included, is quantized to DECIMAL(28,12) before round 6 (JVM
      ``Math.log`` and libm ``ln`` may differ by 1 ulp on the same
      input; the round-10 driver caught exactly that).

    (IV < 0.02 useless, > 0.3 strong — the industry reading.)

    Scale: one distinct-value histogram + metadata window for the
    cuts (1-row broadcast after), one bucket-count aggregation
    (n_buckets rows), everything after on that metadata frame (the
    IV total rides a metadata-window sum). Returns per bucket:
    bucket, n_pos, n_neg, woe, iv_term, iv.
    """
    from .aggregates import discrete_quantile_cuts

    v = F.col(value_col).cast("double")
    y = F.col(label_col).cast("bigint")
    cuts = discrete_quantile_cuts(
        df.select(v.alias("__dv")),
        value_col="__dv",
        group_keys=[],
        fracs=[(i, n_buckets) for i in range(1, n_buckets)],
    )
    # bucket is BIGINT on BOTH engines: the oracle's ``list_sum`` returns
    # HUGEINT -> arrow decimal128(38,0) while Spark's fold is INT, and a
    # type-sensitive value hash tolerates int32/int64 width skew but not
    # integer-vs-Decimal (q240's red until round 14).  Both sides CAST
    # the bucket id to BIGINT; values are unchanged.
    bucket = (
        F.lit(1)
        + F.aggregate(
            F.transform(F.col("__cuts"), lambda c: (F.col("__v") > c).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    ).cast("bigint")
    counts = (
        df.where(v.isNotNull())
        .select(v.alias("__v"), y.alias("__y"))
        .crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "__y")
        .groupBy("bucket")
        .agg(
            F.sum("__y").cast("bigint").alias("n_pos"),
            F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("n_neg"),
        )
    )
    wt = W.partitionBy()  # n_buckets-row frame — metadata-sized
    tp = F.sum("n_pos").over(wt)
    tn = F.sum("n_neg").over(wt)
    p = (F.col("n_pos") + 1).cast("double") / (tp + n_buckets).cast("double")
    q = (F.col("n_neg") + 1).cast("double") / (tn + n_buckets).cast("double")
    scored = counts.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.log(p / q).cast("decimal(28,12)").alias("__woe"),
        ((p - q) * F.log(p / q)).cast("decimal(28,12)").alias("__term"),
    )
    return scored.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(F.col("__woe").cast("double"), 6).alias("woe"),
        F.round(F.col("__term").cast("double"), 6).alias("iv_term"),
        F.round(F.sum("__term").over(wt).cast("double"), 6).alias("iv"),
    ).orderBy("bucket")


def kendall_tau_b(
    df: DataFrame,
    *,
    x_col: str,
    y_col: str,
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Exact Kendall tau-b rank correlation over DISCRETE-domain
    columns, computed on the joint-distribution GRID instead of row
    pairs: with cell counts n(x,y),

        C = sum_cell n(x,y) * P(x,y)   (P = # points strictly less in both)
        D = sum_cell n(x,y) * Q(x,y)   (Q = # points x' < x, y' > y)
        tau_b = (C - D) / ( sqrt(n0 - tx) * sqrt(n0 - ty) )

    where n0 = n(n-1)/2 and tx/ty are the tied-pair counts from the
    marginals. P and Q come from two chained one-dimensional
    cumulative windows over the grid (across x per y, then across y
    per x) — never a pair self-join, never a data-sized window: every
    frame after the first aggregation is |X|x|Y| cells (metadata for
    discrete/quantized features; quantize continuous columns first).
    All counts BIGINT (DECIMAL(38,0) where products can pass 2^63);
    ONE division with IEEE-correctly-rounded sqrt, round 6.
    """
    gk = list(group_keys or [])
    if not gk:
        raise ValueError("kendall_tau_b needs group_keys (the dense grid "
                         "join is keyed on them; wrap an ungrouped input "
                         "in a constant group)")
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*gk, x_col, y_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    # DENSIFY: the chained 1-D prefixes below are only a 2-D dominance
    # count when every (x, y) grid point exists — a sparse cell frame
    # would skip the A-values of absent grid points. |X|x|Y| rows per
    # group (metadata for discrete domains).
    cells = cells.localCheckpoint(eager=False)  # 4 consumers below
    xs = cells.select(*gk, x_col).distinct()
    ys = cells.select(*gk, y_col).distinct()
    dense = (
        xs.join(ys, gk)
        .join(cells, [*gk, x_col, y_col], "left")
        .withColumn("__n", F.coalesce("__n", F.lit(0)).cast("bigint"))
    )
    wx = (
        W.partitionBy(*gk, y_col)
        .orderBy(F.col(x_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    a = dense.withColumn(
        "__a", F.coalesce(F.sum("__n").over(wx), F.lit(0)).cast("bigint")
    )
    wy_below = (
        W.partitionBy(*gk, x_col)
        .orderBy(F.col(y_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wy_above = (
        W.partitionBy(*gk, x_col)
        .orderBy(F.col(y_col).asc())
        .rowsBetween(1, W.unboundedFollowing)
    )
    pq = a.select(
        *gk,
        x_col,
        y_col,
        "__n",
        F.coalesce(F.sum("__a").over(wy_below), F.lit(0)).cast("bigint").alias("__p"),
        F.coalesce(F.sum("__a").over(wy_above), F.lit(0)).cast("bigint").alias("__q"),
    )
    # factors decimal-cast BEFORE the multiply (the gini_lorenz
    # pattern): __n * __p in BIGINT wraps int64 long before the
    # decimal sum would — the overflow lives in the per-row product
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = pq.groupBy(*gk).agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(d19(F.col("__n")) * d19(F.col("__p"))).cast("decimal(38,0)").alias("__c"),
        F.sum(d19(F.col("__n")) * d19(F.col("__q"))).cast("decimal(38,0)").alias("__d"),
    )
    tx = (
        cells.groupBy(*gk, x_col)
        .agg(F.sum("__n").cast("bigint").alias("__t"))
        .groupBy(*gk)
        .agg(
            F.sum(d19(F.col("__t")) * d19(F.col("__t") - 1))
            .cast("decimal(38,0)")
            .alias("__tx2")
        )
    )
    ty = (
        cells.groupBy(*gk, y_col)
        .agg(F.sum("__n").cast("bigint").alias("__t"))
        .groupBy(*gk)
        .agg(
            F.sum(d19(F.col("__t")) * d19(F.col("__t") - 1))
            .cast("decimal(38,0)")
            .alias("__ty2")
        )
    )
    joined = m.join(tx, gk) if gk else m.crossJoin(F.broadcast(tx))
    joined = joined.join(ty, gk) if gk else joined.crossJoin(F.broadcast(ty))
    n = F.col("n").cast("decimal(38,0)")
    n02 = n * (n - 1)  # 2*n0, matching the 2x-scaled tie sums
    denx = (n02 - F.col("__tx2")).cast("double")
    deny = (n02 - F.col("__ty2")).cast("double")
    num = (F.lit(2).cast("decimal(38,0)") * (F.col("__c") - F.col("__d"))).cast(
        "double"
    )
    return joined.select(
        *gk,
        "n",
        F.col("__c").cast("double").alias("concordant"),
        F.col("__d").cast("double").alias("discordant"),
        F.when(
            (denx > 0) & (deny > 0),
            F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6),
        ).alias("tau_b"),
    ).orderBy(*gk)


def welch_ttest(
    df: DataFrame,
    *,
    group_keys: list[str],
    value_col: str,
    arm_col: str,
) -> DataFrame:
    """Per-group Welch two-sample t statistic (unequal variances) with
    the Welch-Satterthwaite effective degrees of freedom — the
    continuous-metric A/B readout next to q223's Wilson interval
    (binary) and q228's KS (distribution-free): did the treatment arm
    move the mean, scaled by how precisely each arm's mean is known?

        se2_a = v_a / n_a            (v = unbiased sample variance)
        t     = (m_a - m_b) / sqrt(se2_a + se2_b)
        df    = (se2_a + se2_b)^2
                / (se2_a^2/(n_a-1) + se2_b^2/(n_b-1))

    Determinism contract: per-arm sufficient statistics (n, S1, S2)
    are exact — per-row IEEE x*x quantized to DECIMAL(38,10) before
    the distributed sum (the grouped_moments rule), so partition order
    cannot move them; every IEEE step after lives on the #groups frame
    with fixed parenthesization (v = (S2 - S1^2/n)/(n-1) in doubles,
    then the formulas above), sqrt being correctly rounded. No libm.
    Arms with n < 2 or a zero pooled standard error yield NULL t/df
    rather than an ANSI division error.

    Scale shape: ONE combinable conditional aggregation over the fact
    table (each arm's sums via sum(CASE) — no self-join, no second
    scan); everything downstream is per-group scalar algebra.

    Returns (group_keys..., n_a, n_b, mean_a, mean_b, t_stat, df_welch).
    """
    dec = lambda c: c.cast("decimal(38,10)")  # noqa: E731
    x = F.col(value_col).cast("double")
    a = F.col(arm_col) == 0
    m = (
        df.where(x.isNotNull())
        .groupBy(*group_keys)
        .agg(
            F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("n_b"),
            F.sum(F.when(a, dec(x))).alias("__s1a"),
            F.sum(F.when(~a, dec(x))).alias("__s1b"),
            F.sum(F.when(a, dec(x * x))).alias("__s2a"),
            F.sum(F.when(~a, dec(x * x))).alias("__s2b"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    s1a = F.col("__s1a").cast("double")
    s1b = F.col("__s1b").cast("double")
    s2a = F.col("__s2a").cast("double")
    s2b = F.col("__s2b").cast("double")
    ma = s1a / na
    mb = s1b / nb
    va = (s2a - (s1a * s1a) / na) / (na - F.lit(1.0))
    vb = (s2b - (s1b * s1b) / nb) / (nb - F.lit(1.0))
    se2a = va / na
    se2b = vb / nb
    se2 = se2a + se2b
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return m.select(
        *group_keys,
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.when(ok & (se2 > 0), F.round((ma - mb) / F.sqrt(se2), 6)).alias("t_stat"),
        F.when(
            ok & (se2 > 0),
            F.round(
                (se2 * se2)
                / (
                    (se2a * se2a) / (na - F.lit(1.0))
                    + (se2b * se2b) / (nb - F.lit(1.0))
                ),
                4,
            ),
        ).alias("df_welch"),
    )


def wasserstein_1(
    df: DataFrame,
    *,
    group_keys: list[str],
    value_col: str,
    arm_col: str,
    value_scale: int = 2,
    two_phase: bool = True,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the two
    arms' empirical value distributions per group — the MAGNITUDE
    companion to q228's KS (KS asks "how far apart do the CDFs get",
    W1 asks "how much probability mass must move, and how far"):

        W1 = integral |F_a(v) - F_b(v)| dv
           = sum over sorted distinct values v_i of
             (v_{i+1} - v_i) * |F_a(v_i) - F_b(v_i)|

    kept exact until ONE final division: values are quantized to
    DECIMAL(18, value_scale) (exact for data produced at that scale),
    so gaps are exact decimals; |F_a - F_b| is carried as the BIGINT
    bridge |cum_a * n_b - cum_b * n_a|; each summand
    gap * bridge is DECIMAL x BIGINT = exact DECIMAL, summed exactly,
    then divided once by (n_a * n_b) — immune to float summation
    order (the repo determinism contract; a naive double cdf-diff sum
    would be partition-order-dependent).

    Scale: one distinct-value aggregation (frame bounded by VALUE
    CARDINALITY, not rows — the evaluation-family bound), the
    two-phase prefix sum for cumulative counts, and one lead window
    ON THE DISTINCT frame for the adjacent-value gap. Returns per
    group (n_a, n_b, w1_num as double of the exact decimal, w1)."""
    dval = F.col(value_col).cast(f"decimal(18,{value_scale})")
    a = F.col(arm_col) == 0
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_keys, dval.alias("__v"))
        .agg(
            F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("__a"),
            F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("__b"),
        )
    )
    c = grouped_cumsum_two_phase(
        g, list(group_keys), ["__v"], ["__a", "__b"], exclusive=False,
        two_phase=two_phase,
    )
    w = W.partitionBy(*group_keys).orderBy("__v")
    d19 = lambda c_: c_.cast("decimal(19,0)")  # noqa: E731
    stepped = c.withColumn("__nextv", F.lead("__v").over(w))
    tot = stepped.groupBy(*group_keys).agg(
        F.max("__cum___a").alias("__na"), F.max("__cum___b").alias("__nb")
    )
    return (
        stepped.join(tot, list(group_keys))
        .where(F.col("__nextv").isNotNull())
        .withColumn(
            "__bridge",
            F.abs(
                d19(F.col("__cum___a")) * d19(F.col("__nb"))
                - d19(F.col("__cum___b")) * d19(F.col("__na"))
            # width budget: gap DECIMAL(9,s) x bridge DECIMAL(28,0)
            # multiplies inside DuckDB's 38-digit cap (18+38 would
            # not); the bridge bound is n_a*n_b <= 1e28 — far past any
            # per-group row count — and the gap bound 1e7 covers the
            # value domain at scale 2
            ).cast("decimal(28,0)"),
        )
        .groupBy(*group_keys)
        .agg(
            F.max("__na").cast("bigint").alias("n_a"),
            F.max("__nb").cast("bigint").alias("n_b"),
            F.sum(
                (F.col("__nextv") - F.col("__v")).cast(f"decimal(9,{value_scale})")
                * F.col("__bridge")
            ).alias("__num"),
        )
        .select(
            *group_keys,
            "n_a",
            "n_b",
            F.col("__num").cast("double").alias("w1_num"),
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.col("__num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            ).alias("w1"),
        )
    )


def runs_test(
    df: DataFrame,
    *,
    group_keys: list[str],
    value_col: str,
    ts_col: str,
    id_col: str,
    threshold: float,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Wald-Wolfowitz runs test for sequence randomness per group: is
    the above/below-``threshold`` sign sequence (in (ts, id) order)
    clustered, alternating, or random?  R = number of runs; under H0

        E[R]   = 1 + 2 n1 n0 / n
        Var[R] = (2 n1 n0) (2 n1 n0 - n) / (n^2 (n - 1))
        z      = (R - E[R]) / sqrt(Var[R])

    R, n1, n0 are exact BIGINTs; the moments are IEEE with the exact
    counts as inputs and fixed parenthesization (2.0*n1*n0 is exact in
    doubles far beyond any realistic group size), sqrt correctly
    rounded — the welch_ttest contract.

    Scale shape — the run count is computed WITHOUT a per-group
    single-task window: rows are bucketed (default: by calendar day),
    sign changes are counted inside each (group, bucket) with a
    bucket-local lag, each bucket emits its boundary signs via
    bucket-local row_number, and consecutive buckets are stitched on
    the #buckets-sized frame (a metadata window). R = 1 + within-bucket
    changes + boundary changes — exactly the single-window value
    (associativity of adjacent-pair counting), test-verified against
    the plain fold."""
    gk = list(group_keys)
    sign = (F.col(value_col) > F.lit(float(threshold))).cast("int")
    b = bucket_expr if bucket_expr is not None else F.to_date(F.col(ts_col))
    rows = df.where(F.col(value_col).isNotNull()).select(
        *gk,
        b.alias("__bkt"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        sign.alias("__s"),
    )
    wloc = W.partitionBy(*gk, "__bkt").orderBy("__ts", "__id")
    flagged = rows.withColumn("__prev", F.lag("__s").over(wloc)).withColumn(
        "__rn", F.row_number().over(wloc)
    )
    per_bucket = flagged.groupBy(*gk, "__bkt").agg(
        F.sum(
            F.when(
                F.col("__prev").isNotNull() & (F.col("__s") != F.col("__prev")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("__chg"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__s").cast("bigint").alias("__n1"),
        F.max(F.when(F.col("__rn") == 1, F.col("__s"))).alias("__first"),
        F.max_by(F.col("__s"), F.col("__rn")).alias("__last"),
    )
    wseq = W.partitionBy(*gk).orderBy("__bkt")  # #buckets frame — metadata
    stitched = per_bucket.withColumn(
        "__prev_last", F.lag("__last").over(wseq)
    ).withColumn(
        "__bchg",
        F.when(
            F.col("__prev_last").isNotNull()
            & (F.col("__first") != F.col("__prev_last")),
            1,
        )
        .otherwise(0)
        .cast("bigint"),
    )
    m = stitched.groupBy(*gk).agg(
        (F.lit(1) + F.sum("__chg") + F.sum("__bchg")).cast("bigint").alias("runs"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__n1").cast("bigint").alias("n1"),
    )
    nf = F.col("n").cast("double")
    n1f = F.col("n1").cast("double")
    n0f = (F.col("n") - F.col("n1")).cast("double")
    a2 = F.lit(2.0) * n1f * n0f
    er = F.lit(1.0) + a2 / nf
    vr = (a2 * (a2 - nf)) / ((nf * nf) * (nf - F.lit(1.0)))
    ok = (F.col("n1") > 0) & (F.col("n") - F.col("n1") > 0) & (F.col("n") >= 2)
    return m.select(
        *gk,
        "runs",
        "n",
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n0"),
        F.when(ok, F.round(er, 6)).alias("expected_runs"),
        F.when(ok & (vr > 0), F.round((F.col("runs").cast("double") - er) / F.sqrt(vr), 6)).alias(
            "z_stat"
        ),
    )


def mann_whitney_u(
    df: DataFrame,
    *,
    value_col: str,
    sample_col: str,
    two_phase: bool = True,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between the two
    samples named by boolean ``sample_col`` (True = sample A), with
    midrank tie handling and the tie-corrected normal approximation —
    the NONPARAMETRIC complement to q256's Welch t: "are A's values
    stochastically larger?" with no distributional assumption, the
    robust A/B readout when value distributions are skewed or
    heavy-tailed (latency, spend).

    Exactness: ranks live in DOUBLED units so midranks stay integral —
    2·midrank(v) = 2·cum_below(v) + t(v) + 1 over the pooled distinct
    values (t(v) = pooled count at v, cum_below = strictly-below
    pooled count from the exclusive two-phase prefix sum).  The rank
    sum, U, and the tie term Σ(t³−t) are then exact DECIMAL(38,0)
    sums of BIGINT rows; the only IEEE steps are the final mean/
    variance/z assembly on the ONE-row frame:

        U_A = R_A − n_a(n_a+1)/2
        E[U] = n_a·n_b/2
        Var  = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))
        z    = (U_A − E[U]) / sqrt(Var)      (NULL when Var = 0)

    Scale: one distinct-value aggregation (value-cardinality frame),
    one two-phase prefix sum, one metadata reduce — the q228/q262
    budget; never a data-sized global sort."""
    a = F.col(sample_col).cast("boolean")
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(a.cast("bigint")).cast("bigint").alias("__a"),
            F.sum((~a).cast("bigint")).cast("bigint").alias("__b"),
        )
        .withColumn("__t", (F.col("__a") + F.col("__b")).cast("bigint"))
    )
    c = grouped_cumsum_two_phase(
        g, [], [value_col], ["__t"], exclusive=True, two_phase=two_phase
    )
    dec0 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = c.agg(
        F.sum(dec0(F.col("__a"))).alias("na"),
        F.sum(dec0(F.col("__b"))).alias("nb"),
        # R_A in doubled units: Σ n_a(v)·(2·cum_below + t + 1)
        F.sum(
            dec0(
                F.col("__a")
                * (F.lit(2) * F.col("__cum___t") + F.col("__t") + F.lit(1))
            )
        ).alias("r2a"),
        F.sum(
            dec0(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        ).alias("ties"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    n = na + nb
    u_a = (F.col("r2a").cast("double") - na * (na + F.lit(1.0))) / F.lit(2.0)
    mean_u = na * nb / F.lit(2.0)
    var_u = (na * nb / F.lit(12.0)) * (
        (n + F.lit(1.0)) - F.col("ties").cast("double") / (n * (n - F.lit(1.0)))
    )
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round(
            F.when(var_u > 0, (u_a - mean_u) / F.sqrt(var_u)), 6
        ).alias("z"),
    )


def grouped_ks_bh(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    sample_col: str,
    q: float = 0.05,
    two_phase: bool = True,
) -> DataFrame:
    """Per-group two-sample KS tests with Benjamini–Hochberg FDR
    control (JRSS-B 1995) across the groups — "which segments' A/B
    value distributions differ, at a controlled false-discovery
    rate", the multiple-testing discipline a per-segment drift
    monitor needs (testing 50 segments at α=.05 alone expects 2.5
    false alarms).

    Per group the exact rational KS machinery of q228 (distinct-value
    frame + two-phase prefix sums, d_scaled = max|cum_a·n_b −
    cum_b·n_a| as exact DECIMAL(38,0) cross products).  The p-value
    uses the standard large-sample bound p = 2·exp(−2·λ·D²) with λ =
    n_a·n_b/(n_a+n_b) — but exp() NEVER evaluates: BH only needs the
    ORDER of p (monotone in the exponent) and the comparisons
    p_(i) ≤ i·q/m, rewritten in log space as

        score := 2·λ·D²  >=  ln(2·m / (i·q))

    so the whole procedure runs on ln() (the proven q158/q186
    cross-engine primitive) and the step-up max.  All BH work happens
    on the #groups metadata frame (the only unpartitioned window).

    Returns (group, n_a, n_b, ks_d, score, bh_rank, reject) ordered
    by (score DESC, group) — bh_rank is the p-ascending rank, reject
    the step-up decision at FDR ``q``."""
    a = F.col(sample_col).cast("boolean")
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(
            F.sum(a.cast("bigint")).cast("bigint").alias("__a"),
            F.sum((~a).cast("bigint")).cast("bigint").alias("__b"),
        )
    )
    c = grouped_cumsum_two_phase(
        g, [group_col], [value_col], ["__a", "__b"], two_phase=two_phase
    )
    dec0 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per = c.groupBy(group_col).agg(
        F.max("__cum___a").cast("bigint").alias("n_a"),
        F.max("__cum___b").cast("bigint").alias("n_b"),
    )
    gaps = c.join(per, group_col).groupBy(group_col, "n_a", "n_b").agg(
        F.max(
            F.abs(
                dec0(F.col("__cum___a")) * dec0(F.col("n_b"))
                - dec0(F.col("__cum___b")) * dec0(F.col("n_a"))
            )
        ).alias("__d")
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    d = F.col("__d").cast("double") / (na * nb)
    lam = na * nb / (na + nb)
    scored = gaps.where((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        group_col,
        "n_a",
        "n_b",
        F.round(d, 6).alias("ks_d"),
        (F.lit(2.0) * lam * (d * d)).alias("__score"),
    )
    # BH on the #groups metadata frame: rank by p ASC == score DESC
    rank_w = W.orderBy(F.col("__score").desc(), F.col(group_col).asc())
    all_w = W.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(rank_w).alias("bh_rank"),
        F.count(F.lit(1)).over(all_w).cast("bigint").alias("__m"),
    )
    cond = F.col("__score") >= F.log(
        F.lit(2.0)
        * F.col("__m").cast("double")
        / (F.col("bh_rank").cast("double") * F.lit(float(q)))
    )
    kstar = F.max(F.when(cond, F.col("bh_rank"))).over(all_w)
    return (
        ranked.withColumn("reject", F.col("bh_rank") <= F.coalesce(kstar, F.lit(0)))
        .select(
            group_col,
            "n_a",
            "n_b",
            "ks_d",
            F.round(F.col("__score"), 6).alias("score"),
            "bh_rank",
            "reject",
        )
        .orderBy("bh_rank")
    )


def eb_shrunk_rates(
    df: DataFrame,
    *,
    key_col: str,
    success_col: str,
    min_trials: int = 5,
    k: int = 20,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-entity rates
    (Robbins 1956; the baseball-batting-average classic): the prior
    Beta(α, β) is fitted by METHOD OF MOMENTS to the observed
    per-entity rate distribution, then every entity's rate shrinks
    toward the pooled prior in proportion to its evidence:

        shrunk = (s + α) / (n + α + β)

    — the leaderboard fix for "3-for-3 beats 300-for-1000": small
    samples regress to the prior, large samples keep their data.
    EVERY entity is shrunk and eligible for the leaderboard —
    ``min_trials`` gates only the PRIOR FIT (tiny-sample rates are
    too noisy to estimate the population moments from) — so the
    3-for-3 entity genuinely appears, shrunk toward the prior
    (round-8 ADVICE: output from all keys, not just prior-eligible).

    Moments: m and v are the (biased) mean/variance of the observed
    rates over entities with n >= ``min_trials``, computed from
    DECIMAL(28,12)-quantized rate and rate² sums (q158 rule); then
    common = m(1−m)/v − 1, α = m·common, β = (1−m)·common, one
    fixed-parenthesization IEEE chain on the 1-row prior frame
    (NULL-propagated when v <= 0 — a degenerate constant-rate
    population has no finite MoM prior).

    Scale: one per-key agg + one metadata prior broadcast +
    TakeOrdered(k).  Returns top-``k`` by (shrunk DESC, key) as
    (key, trials, successes, raw_rate, shrunk_rate, alpha, beta)."""
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("trials"),
        F.sum(F.col(success_col).cast("int")).cast("bigint").alias("successes"),
    )
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    rate = F.col("successes").cast("double") / F.col("trials").cast("double")
    elig = per.where(F.col("trials") >= min_trials)
    prior = elig.agg(
        F.count(F.lit(1)).cast("bigint").alias("__ne"),
        F.sum(dec(rate)).alias("__sr"),
        F.sum(dec(rate * rate)).alias("__sr2"),
    )
    ne = F.col("__ne").cast("double")
    m = F.col("__sr").cast("double") / ne
    v = F.col("__sr2").cast("double") / ne - m * m
    common = F.when(v > 0, m * (F.lit(1.0) - m) / v - F.lit(1.0))
    pr = prior.select(
        (m * common).alias("alpha"),
        ((F.lit(1.0) - m) * common).alias("beta"),
    )
    out = per.crossJoin(F.broadcast(pr))
    shrunk = (F.col("successes").cast("double") + F.col("alpha")) / (
        F.col("trials").cast("double") + F.col("alpha") + F.col("beta")
    )
    return (
        out.select(
            "key",
            "trials",
            "successes",
            F.round(rate, 6).alias("raw_rate"),
            F.round(shrunk, 6).alias("shrunk_rate"),
            F.round(F.col("alpha"), 6).alias("alpha"),
            F.round(F.col("beta"), 6).alias("beta"),
        )
        .orderBy(F.col("shrunk_rate").desc(), F.col("key").asc())
        .limit(k)
    )


def diff_in_diff(
    df: DataFrame,
    *,
    treat_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 4,
) -> DataFrame:
    """Two-period difference-in-differences estimator (the canonical
    2x2: Card & Krueger 1994 shape): split the observation window at
    its midpoint (data-derived, exact integer-µs arithmetic), form
    the four (treat × period) cell means, and report

        DiD = (T_post − T_pre) − (C_post − C_pre)

    with the unpooled (Welch-style) standard error √(Σ s²_c/n_c) and
    the resulting t — the standard causal readout when a treatment
    switches on for one group mid-window and parallel trends are
    assumed for the counterfactual.

    Exactness: ALL sixteen cell statistics (n, Σv, Σv² per cell)
    come from ONE conditional map-side-combinable aggregation with
    DECIMAL-quantized sums (the dsum rule, value at scale ``scale``,
    squares at 2·scale); means/variances/SE/t are fixed-
    parenthesization IEEE on the single output row.  Sample variance
    uses the n−1 divisor; cells with n < 2 NULL-propagate the SE.

    Returns ONE row (mean_treat_pre, mean_treat_post, mean_ctrl_pre,
    mean_ctrl_post, did, se, t_stat) round 6."""
    bounds = df.agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    base = df.select(
        F.col(treat_col).cast("boolean").alias("__tr"),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast(f"decimal(18,{scale})").alias("__v"),
    ).crossJoin(F.broadcast(bounds))
    post = F.unix_micros(F.col("__ts")) > (
        F.unix_micros(F.col("__lo"))
        + F.expr("(unix_micros(__hi) - unix_micros(__lo)) div 2")
    )
    cells = {}
    for name, cond in (
        ("tp", F.col("__tr") & post),
        ("ta", F.col("__tr") & ~post),
        ("cp", ~F.col("__tr") & post),
        ("ca", ~F.col("__tr") & ~post),
    ):
        cells[name] = cond
    aggs = []
    for name, cond in cells.items():
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"n_{name}"))
        aggs.append(F.sum(F.when(cond, F.col("__v"))).alias(f"s_{name}"))
        aggs.append(
            F.sum(
                F.when(cond, (F.col("__v") * F.col("__v")).cast(f"decimal(38,{2 * scale})"))
            ).alias(f"q_{name}")
        )
    g = base.agg(*aggs)

    def mean(c):
        return F.col(f"s_{c}").cast("double") / F.col(f"n_{c}").cast("double")

    def var(c):
        n = F.col(f"n_{c}").cast("double")
        s = F.col(f"s_{c}").cast("double")
        q = F.col(f"q_{c}").cast("double")
        return F.when(
            F.col(f"n_{c}") >= 2, (q - (s * s) / n) / (n - F.lit(1.0))
        )

    did = (mean("tp") - mean("ta")) - (mean("cp") - mean("ca"))
    se = F.sqrt(
        var("tp") / F.col("n_tp").cast("double")
        + var("ta") / F.col("n_ta").cast("double")
        + var("cp") / F.col("n_cp").cast("double")
        + var("ca") / F.col("n_ca").cast("double")
    )
    return g.select(
        F.round(mean("ta"), 6).alias("mean_treat_pre"),
        F.round(mean("tp"), 6).alias("mean_treat_post"),
        F.round(mean("ca"), 6).alias("mean_ctrl_pre"),
        F.round(mean("cp"), 6).alias("mean_ctrl_post"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t_stat"),
    )


def cuped_adjustment(
    df: DataFrame,
    *,
    unit_col: str,
    treat_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 4,
) -> DataFrame:
    """CUPED variance reduction for A/B metrics (Deng, Xu, Kohavi &
    Walker, WSDM 2013): per-unit pre-period activity as the control
    covariate — θ = cov(pre, post)/var(pre) fitted on the POOLED
    population, each unit's adjusted metric post − θ·(pre − mean_pre)
    — the industry-standard way to shrink experiment confidence
    intervals without touching the treatment assignment.

    The window splits at its integer-µs midpoint (the q288
    convention); per-unit pre/post sums are decimal-exact (dsum
    rule).  Adjusted moments need NO second pass — at any θ,
    var_adj = var_post − 2θ·cov + θ²·var_pre (population variances,
    documented), evaluated per arm on the 2-row arm frame with the
    pooled θ broadcast.

    Returns one row per arm (treat, n_units, theta, mean_post,
    var_post, mean_adj, var_adj, var_reduction_pct) round 6, ordered
    by treat — var_reduction_pct = (1 − var_adj/var_post)·100."""
    bounds = df.agg(F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi"))
    post = F.unix_micros(F.col(ts_col)) > (
        F.unix_micros(F.col("__lo"))
        + F.expr(f"(unix_micros(__hi) - unix_micros(__lo)) div 2")
    )
    v = F.col(value_col).cast(f"decimal(18,{scale})")
    per_unit = (
        df.crossJoin(F.broadcast(bounds))
        .groupBy(F.col(unit_col).alias("__u"), F.col(treat_col).cast("boolean").alias("__tr"))
        .agg(
            F.sum(F.when(~post, v)).alias("__pre"),
            F.sum(F.when(post, v)).alias("__post"),
        )
        .select(
            "__u",
            "__tr",
            F.coalesce(F.col("__pre"), F.lit(0)).cast("double").alias("__x"),
            F.coalesce(F.col("__post"), F.lit(0)).cast("double").alias("__y"),
        )
    )
    dec = lambda c: c.cast("decimal(28,10)")  # noqa: E731

    def moments(grouped):
        return grouped.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum(dec(F.col("__x"))).alias("__sx"),
            F.sum(dec(F.col("__y"))).alias("__sy"),
            F.sum(dec(F.col("__x") * F.col("__x"))).alias("__sxx"),
            F.sum(dec(F.col("__x") * F.col("__y"))).alias("__sxy"),
            F.sum(dec(F.col("__y") * F.col("__y"))).alias("__syy"),
        )

    def stats(frame):
        n = F.col("n_units").cast("double")
        mx = F.col("__sx").cast("double") / n
        my = F.col("__sy").cast("double") / n
        vx = F.col("__sxx").cast("double") / n - mx * mx
        vy = F.col("__syy").cast("double") / n - my * my
        cxy = F.col("__sxy").cast("double") / n - mx * my
        return frame.select(
            "*",
            mx.alias("__mx"),
            my.alias("__my"),
            vx.alias("__vx"),
            vy.alias("__vy"),
            cxy.alias("__cxy"),
        )

    pooled = stats(moments(per_unit.groupBy())).select(
        F.when(F.col("__vx") > 0, F.col("__cxy") / F.col("__vx")).alias("__theta"),
        F.col("__mx").alias("__pool_mx"),
    )
    arms = stats(moments(per_unit.groupBy("__tr"))).crossJoin(F.broadcast(pooled))
    th = F.col("__theta")
    mean_adj = F.col("__my") - th * (F.col("__mx") - F.col("__pool_mx"))
    var_adj = (
        F.col("__vy")
        - F.lit(2.0) * th * F.col("__cxy")
        + th * th * F.col("__vx")
    )
    return arms.select(
        F.col("__tr").alias("treat"),
        "n_units",
        F.round(th, 6).alias("theta"),
        F.round(F.col("__my"), 6).alias("mean_post"),
        F.round(F.col("__vy"), 6).alias("var_post"),
        F.round(mean_adj, 6).alias("mean_adj"),
        F.round(var_adj, 6).alias("var_adj"),
        F.round(
            (F.lit(1.0) - var_adj / F.col("__vy")) * F.lit(100.0), 6
        ).alias("var_reduction_pct"),
    ).orderBy("treat")


def oof_target_encoding(
    df: DataFrame,
    *,
    key_col: str,
    target_col: str,
    id_col: str,
    k_folds: int = 5,
    prior_weight: float = 20.0,
    scale: int = 4,
) -> DataFrame:
    """K-fold out-of-fold target encoding with additive smoothing
    (Micci-Barreca, SIGKDD Explorations 2001 — the leakage-safe mean
    encoder every tabular training pipeline ships):

        enc(key, fold) = (Σ_target(key) − Σ_target(key, fold)
                          + w·global_mean)
                       / (n(key) − n(key, fold) + w)

    Rows in fold f are encoded from the OTHER folds' statistics —
    the out-of-fold subtraction is what stops the encoder from
    memorizing its own row's label (the q148 leakage-safe-split
    rule applied to feature construction).  Folds are deterministic:
    md5_60(id) mod k — hash-stable across runs and engines, never
    RNG state.

    Determinism: per-(key, fold) target sums are decimal-exact (dsum
    rule at ``scale``); the OOF numerator/denominator are derived by
    exact subtraction from the per-key totals; ONE IEEE division per
    encoding.  Scale: one groupBy to the |keys|·k cells frame, then
    per-key window totals (≤ k rows per partition) + a 1-row
    grand-total broadcast ON that metadata-sized frame — the input is
    scanned once, nothing data-sized shuffles twice.

    Returns (key, fold, n_in_fold, n_oof, enc) round 6,
    ordered by (key, fold)."""
    from ..functions.hashing import md5_int60

    if not prior_weight > 0:
        raise ValueError(
            f"prior_weight must be > 0 (got {prior_weight!r}) — it is the"
            " only mass keeping a single-fold key's encoding defined"
        )

    fold = F.pmod(md5_int60(F.col(id_col).cast("string")), F.lit(int(k_folds)))
    v = F.col(target_col).cast(f"decimal(18,{scale})")
    cells = df.select(
        F.col(key_col).alias("__key"), fold.alias("fold"), v.alias("__v")
    ).groupBy("__key", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_fold"),
        F.sum("__v").alias("__s"),
    )
    # the cells frame feeds the grand total AND the output; pin it so
    # the data scan runs once (metadata-sized: |keys| x k rows)
    cells = cells.localCheckpoint(eager=False)
    glob = cells.agg(
        F.sum("n_in_fold").alias("__g_n"), F.sum("__s").alias("__g_s")
    )
    cells = cells.crossJoin(F.broadcast(glob))
    tot_n = F.sum("n_in_fold").over(W.partitionBy("__key"))
    tot_s = F.sum("__s").over(W.partitionBy("__key"))
    w = F.lit(float(prior_weight))
    gmean = F.col("__g_s").cast("double") / F.col("__g_n").cast("double")
    oof_n = (tot_n - F.col("n_in_fold")).cast("double")
    oof_s = (tot_s - F.col("__s")).cast("double")
    return cells.select(
        F.col("__key").alias("key"),
        "fold",
        "n_in_fold",
        (tot_n - F.col("n_in_fold")).cast("bigint").alias("n_oof"),
        F.round((oof_s + w * gmean) / (oof_n + w), 6).alias("enc"),
    ).orderBy("key", "fold")


def sprt_ab(
    df: DataFrame,
    *,
    arm_col: str,
    ts_col: str,
    id_col: str,
    success_col: str | Column,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability-ratio test per experiment arm
    (Wald, Ann. Math. Stat. 1945 — the always-valid alternative to
    the q223 fixed-horizon Wilson readout): stream each arm's
    Bernoulli outcomes in (ts, id) order, accumulate

        LLR_n = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))

    and stop at the first crossing of A = ln((1−β)/α) (accept H1) or
    B = ln(β/(1−α)) (accept H0).  Reports, per arm, the full-sample
    totals plus the FIRST-crossing point — "how many observations the
    sequential test would have needed", the experiment-cost readout.

    Determinism: the four log constants are computed ONCE in Python
    (driver-side math.log) and embedded as DECIMAL(13,12) literals;
    counts are DECIMAL(20,0), so LLR_n = k·C1 + (n−k)·C2 multiplies as
    (20,0)×(13,12) → exact DECIMAL(34,12) — under the 38-digit cap in
    both engines (a symmetric (18,12)×(18,12) product would hit the
    cap and silently round).  No engine libm in the dataflow; crossing
    comparisons are decimal-vs-decimal, bit-identical everywhere.
    Scale: cumulative (n, k) via
    the two-phase prefix sum (no per-arm single task); the crossing
    scan is a filter + min over the prefix frame.

    Contract: ``ts_col``/``id_col`` must be non-NULL — the prefix
    walk orders on them and Spark (NULLS FIRST) vs the DuckDB oracle
    (NULLS LAST) would silently diverge (round-9 ADVICE).

    Returns (arm, n_obs, n_success, llr_final, decision, n_decision,
    llr_decision) — llr columns round 6; decision ∈ {'accept_h0',
    'accept_h1', 'continue'}; n_decision/llr_decision NULL when the
    test never crosses.  Ordered by arm."""
    import math

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError(f"need 0 < p0 != p1 < 1 (got p0={p0!r}, p1={p1!r})")
    if not (0.0 < alpha < 1.0 and 0.0 < beta < 1.0):
        raise ValueError(
            "need 0 < alpha < 1 and 0 < beta < 1"
            f" (got alpha={alpha!r}, beta={beta!r})"
            " — alpha=0 / beta=0 put a Wald boundary at ±infinity"
        )
    c1 = round(math.log(p1 / p0), 12)
    c2 = round(math.log((1.0 - p1) / (1.0 - p0)), 12)
    a_up = round(math.log((1.0 - beta) / alpha), 12)
    b_lo = round(math.log(beta / (1.0 - alpha)), 12)
    if any(abs(v) >= 10 for v in (c1, c2, a_up, b_lo)):
        raise ValueError(
            "a log constant exceeds DECIMAL(13,12)'s one integer digit"
            f" (c1={c1}, c2={c2}, A={a_up}, B={b_lo}) — extreme p/alpha/"
            "beta need a wider decimal than the exact-arithmetic contract"
        )
    dec12 = "decimal(13,12)"
    dcnt = "decimal(20,0)"
    succ = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    )
    base = df.select(
        F.col(arm_col).alias("__arm"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.when(succ, 1).otherwise(0).cast("bigint").alias("__k"),
        F.lit(1).cast("bigint").alias("__one"),
    )
    pre = grouped_cumsum_two_phase(
        base, ["__arm"], ["__ts", "__id"], ["__one", "__k"]
    ).select(
        "__arm",
        F.col("__cum___one").alias("__n"),
        F.col("__cum___k").alias("__ck"),
    )
    llr = (
        F.col("__ck").cast(dcnt) * F.lit(c1).cast(dec12)
        + (F.col("__n") - F.col("__ck")).cast(dcnt) * F.lit(c2).cast(dec12)
    )
    scored = pre.select("__arm", "__n", "__ck", llr.alias("__llr"))
    # full-sample totals come straight from the base frame — the LLR
    # at n = N is k_tot·C1 + (N − k_tot)·C2 by construction, so the
    # data-sized prefix frame has exactly ONE consumer (the crossing
    # scan), not two
    totals = base.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("__k").cast("bigint").alias("n_success"),
    ).select(
        "__arm",
        "n_obs",
        "n_success",
        (
            F.col("n_success").cast(dcnt) * F.lit(c1).cast(dec12)
            + (F.col("n_obs") - F.col("n_success")).cast(dcnt)
            * F.lit(c2).cast(dec12)
        ).alias("__llr_final"),
    )
    crossings = (
        scored.where(
            (F.col("__llr") >= F.lit(a_up).cast(dec12))
            | (F.col("__llr") <= F.lit(b_lo).cast(dec12))
        )
        .groupBy("__arm")
        .agg(
            F.min("__n").alias("n_decision"),
            F.min_by("__llr", "__n").alias("__llr_dec"),
        )
    )
    out = totals.join(crossings, "__arm", "left")
    decision = (
        F.when(F.col("n_decision").isNull(), F.lit("continue"))
        .when(
            F.col("__llr_dec") >= F.lit(a_up).cast(dec12), F.lit("accept_h1")
        )
        .otherwise(F.lit("accept_h0"))
    )
    return out.select(
        F.col("__arm").alias("arm"),
        "n_obs",
        "n_success",
        F.round(F.col("__llr_final").cast("double"), 6).alias("llr_final"),
        decision.alias("decision"),
        "n_decision",
        F.round(F.col("__llr_dec").cast("double"), 6).alias("llr_decision"),
    ).orderBy("arm")


def theil_sen(
    df: DataFrame,
    *,
    t_col: str,
    y_col: str,
    group_keys: list[str],
) -> DataFrame:
    """Theil–Sen robust slope estimator per group (Theil 1950, Sen
    1968): the LOWER MEDIAN (type-1 order statistic — the repo's
    discrete-cut discipline, never an interpolated float) of all
    pairwise slopes (y_j - y_i) / (t_j - t_i) over i < j, plus the
    matching robust intercept median(y_i - slope * t_i).  The robust
    companion to q68's closed-form OLS, immune to the outliers q168's
    MAD flags (breakdown point ~29%).

    Determinism: t and y are exact BIGINTs < 2^53, so every slope is
    ONE IEEE division of exact integers — correctly rounded, hence
    bit-identical on any IEEE-754 engine (the engine-stable
    fixed-expression discipline; no libm anywhere).  The median picks
    an ACTUAL slope value by integer rank arithmetic (2*cum >= n),
    so the reported slope IS one of those bit-identical doubles; the
    intercept residuals y_i - slope * t_i are one multiply + one
    subtract on exact inputs, equally correctly rounded.

    Scale: the input must already be an AGGREGATED series (one row
    per (group, t) — e.g. daily counts), so the per-group frame is
    bounded by the time domain (calendar days), NOT the raw row
    count; the pair self-join is a bounded blow-up (<= d(d-1)/2 with
    d = distinct t per group) and every window runs on that
    metadata-sized grid.  Returns: group_keys, n_points, n_pairs,
    slope, intercept.
    """
    gk = list(group_keys)
    if not gk:
        raise ValueError("theil_sen needs group_keys (bound the pair grid; "
                         "wrap an ungrouped series in a constant group)")
    t = F.col(t_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    pts = df.select(*gk, t.alias("__t"), y.alias("__y"))
    a, b = pts.alias("__a"), pts.alias("__b")
    slopes = (
        a.join(b, on=gk, how="inner")
        .where(F.col("__a.__t") < F.col("__b.__t"))
        .select(
            *gk,
            (
                (F.col("__b.__y") - F.col("__a.__y")).cast("double")
                / (F.col("__b.__t") - F.col("__a.__t")).cast("double")
            ).alias("__s"),
        )
    )
    # discrete lower median via the distinct-value histogram + integer
    # rank selection (grid bounded by the slope-value cardinality)
    hist = slopes.groupBy(*gk, "__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    wcum = (
        W.partitionBy(*gk)
        .orderBy(F.col("__s").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(*gk)
    ranked = hist.select(
        *gk,
        "__s",
        F.sum("__c").over(wcum).cast("bigint").alias("__cum"),
        F.sum("__c").over(wall).cast("bigint").alias("__n"),
    )
    med = (
        ranked.where(F.col("__cum") * 2 >= F.col("__n"))
        .groupBy(*gk)
        .agg(
            F.min("__s").alias("slope"),
            F.max("__n").alias("n_pairs"),
        )
    )
    # robust intercept: discrete lower median of y_i - slope * t_i
    resid = pts.join(med, on=gk, how="inner").select(
        *gk,
        (
            F.col("__y").cast("double")
            - F.col("slope") * F.col("__t").cast("double")
        ).alias("__r"),
    )
    rhist = resid.groupBy(*gk, "__r").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    rcum = (
        W.partitionBy(*gk)
        .orderBy(F.col("__r").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rranked = rhist.select(
        *gk,
        "__r",
        F.sum("__c").over(rcum).cast("bigint").alias("__cum"),
        F.sum("__c").over(wall).cast("bigint").alias("__n"),
    )
    imed = (
        rranked.where(F.col("__cum") * 2 >= F.col("__n"))
        .groupBy(*gk)
        .agg(
            F.min("__r").alias("intercept"),
            F.max("__n").alias("n_points"),
        )
    )
    return (
        med.join(imed, on=gk, how="inner")
        .select(*gk, "n_points", "n_pairs", "slope", "intercept")
        .orderBy(*gk)
    )


def mann_kendall(
    df: DataFrame,
    *,
    t_col: str,
    y_col: str,
    group_keys: list[str],
) -> DataFrame:
    """Mann–Kendall trend test per group (Mann 1945, Kendall 1975):
    S = sum over i<j of sign(y_j - y_i) on a time-ordered series,
    with the tie-corrected variance

        Var(S) = [ n(n-1)(2n+5) - sum_ties t(t-1)(2t+5) ] / 18

    and the continuity-corrected normal score z = (S -/+ 1) /
    sqrt(Var(S)) (0 when S = 0).  The hypothesis-test companion to
    ``theil_sen`` — same monotone-trend question q213's CUSUM asks
    post-hoc, answered with an exact rank statistic.

    Determinism: S and the variance numerator are exact BIGINT
    arithmetic; z is one correctly-rounded division + sqrt chain on
    those exact integers (sqrt is IEEE-correctly-rounded — the
    kendall_tau_b / Wilson-interval precedent; no libm), emitted
    round-6.  Scale: input is an aggregated series, so the pair join
    is bounded by the time domain exactly as in ``theil_sen``; tie
    counts come from a distinct-value histogram, never a row-pair
    frame.  Returns: group_keys, n_points, s_stat, var_num, z.
    """
    gk = list(group_keys)
    if not gk:
        raise ValueError("mann_kendall needs group_keys (bound the pair "
                         "grid; wrap an ungrouped series in a constant "
                         "group)")
    t = F.col(t_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    pts = df.select(*gk, t.alias("__t"), y.alias("__y"))
    a, b = pts.alias("__a"), pts.alias("__b")
    s = (
        a.join(b, on=gk, how="inner")
        .where(F.col("__a.__t") < F.col("__b.__t"))
        .select(
            *gk,
            F.signum((F.col("__b.__y") - F.col("__a.__y")).cast("double"))
            .cast("bigint")
            .alias("__sgn"),
        )
        .groupBy(*gk)
        .agg(F.sum("__sgn").cast("bigint").alias("s_stat"))
    )
    n_t = pts.groupBy(*gk).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    ties = (
        pts.groupBy(*gk, "__y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__ty"))
        .groupBy(*gk)
        .agg(
            F.sum(
                F.col("__ty") * (F.col("__ty") - 1) * (2 * F.col("__ty") + 5)
            )
            .cast("bigint")
            .alias("__tie")
        )
    )
    n = F.col("n_points")
    var_num = (
        n * (n - 1) * (2 * n + 5) - F.coalesce(F.col("__tie"), F.lit(0))
    ).cast("bigint")
    joined = n_t.join(s, on=gk, how="inner").join(ties, on=gk, how="left")
    sc = F.col("s_stat")
    # fixed parenthesization, mirrored verbatim in the oracle: the
    # var_num/18 division rounds once, sqrt rounds once, the outer
    # division rounds once — all IEEE-correctly-rounded on exact
    # integer inputs, so the raw double is engine-stable; round-6 is
    # display discipline only
    denom = F.sqrt(F.col("var_num").cast("double") / F.lit(18.0))
    z = (
        F.when(sc > 0, (sc - 1).cast("double") / denom)
        .when(sc < 0, (sc + 1).cast("double") / denom)
        .otherwise(F.lit(0.0))
    )
    return (
        joined.select(*gk, "n_points", "s_stat", var_num.alias("var_num"))
        .select(*gk, "n_points", "s_stat", "var_num", F.round(z, 6).alias("z"))
        .orderBy(*gk)
    )
