"""Window functions (SURVEY.md §2.8).

The reference has no OVER clauses; its nearest relatives are the
top-k sort (readme.md:178-187) and the declared per-(hour, zone)
demand/delay analysis (readme.md:136-137). Ranking and lag-based
delay metrics are pure Spark built-ins — one sort-shuffle on the
partition key, whole-stage-codegen'd.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from . import _fixpoint as fx


def top_per_group(
    df: DataFrame, *, partition: Sequence[str], order: Sequence[Column], k: int = 1
) -> DataFrame:
    """Top-k rows per group via row_number. Pass a deterministic
    tie-breaker as the last order expression."""
    w = W.partitionBy(*partition).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def running_sum(
    df: DataFrame,
    *,
    partition: Sequence[str],
    order: Sequence[str],
    value: str,
    out_col: str = "running",
    exact_decimal_scale: int | None = 4,
) -> DataFrame:
    """Cumulative sum per group (rowsBetween unbounded-preceding → current).

    For double measures, summing via decimal keeps every prefix exact
    and engine-independent (same rationale as aggregates.dsum)."""
    w = (
        W.partitionBy(*partition)
        .orderBy(*[F.col(c).asc() for c in order])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    v = F.col(value)
    if exact_decimal_scale is not None:
        expr = F.sum(v.cast(f"decimal(18,{exact_decimal_scale})")).over(w).cast("double")
    else:
        expr = F.sum(v).over(w)
    return df.withColumn(out_col, expr)


def sessionize(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    gap: str = "30 minutes",
    order_tiebreak: Sequence[str] = (),
    out_col: str = "session_id",
) -> DataFrame:
    """Sessionization: a new session starts when the gap to the
    previous row exceeds ``gap``. Classic two-window composition —
    lag → boundary flag → cumulative sum — one sort-shuffle total
    (both windows share partitioning+ordering, so Catalyst runs them
    in a single Window exec)."""
    order = [F.col(ts).asc(), *[F.col(c).asc() for c in order_tiebreak]]
    w = W.partitionBy(*partition).orderBy(*order)
    prev = F.lag(F.col(ts)).over(w)
    boundary = F.when(
        prev.isNull() | (F.col(ts) > prev + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    cum = W.partitionBy(*partition).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(boundary).over(cum))


def gap_fill_hourly(
    df: DataFrame,
    *,
    ts: str,
    value: str,
    exact_decimal_scale: int = 4,
) -> DataFrame:
    """Time-series resample with zero-filled gaps: one row per hour
    between min(ts) and max(ts), with the hour's row count and exact
    decimal sum (0 for empty hours).

    The hour spine is generated engine-side (``sequence`` + ``explode``
    from the 1-row min/max aggregate) — no driver loop, no collect.
    Both the spine and the hourly aggregate are tiny (rows = distinct
    hours, not input rows), so the final join broadcasts regardless of
    input scale; the only full-data pass is the map-side-combined
    groupBy. At 100 TB the spine is still just #hours rows.
    """
    hour = F.date_trunc("hour", F.col(ts))
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts)).alias("__lo"),
        F.date_trunc("hour", F.max(ts)).alias("__hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("__lo", "__hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    actual = df.groupBy(hour.alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value).cast(f"decimal(18,{exact_decimal_scale})"))
        .cast("double")
        .alias("sum_value"),
    )
    return spine.join(F.broadcast(actual), "hour_start", "left").select(
        "hour_start",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


def lag_gap_seconds(
    df: DataFrame, *, partition: Sequence[str], ts: str, order_tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Delay metric: microsecond-exact gap to the previous row per
    group (lag). Gap is BIGINT micros → exact in any summation order,
    so downstream averages are oracle-stable."""
    w = W.partitionBy(*partition).orderBy(F.col(ts).asc(), *[F.col(c).asc() for c in order_tiebreak])
    prev = F.lag(F.col(ts)).over(w)
    return df.withColumn(
        "gap_us", (F.unix_micros(F.col(ts)) - F.unix_micros(prev)).cast("bigint")
    )


def grouped_rank_two_phase(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    *,
    out_col: str = "rank_in_group",
    two_phase: bool = True,
    num_partitions: int | None = None,
    group_size_col: str | None = None,
) -> DataFrame:
    """Global 1-based row_number within each group WITHOUT a per-group
    single task — the two-phase prefix-sum idiom (text._pack_start)
    generalized to ranking inside skewed groups.

    ``Window.partitionBy(group)`` funnels each group through ONE task;
    when one group dominates (one language is half a 100 TB corpus,
    one tenant is half the events), that task sorts the whole group.
    Here instead:

      1. ``repartitionByRange`` on (group, order) — the group's rows
         spread over many range partitions, each partition-local sort
         is bounded by partition size, not group size;
      2. local row_number within (partition, group) — parallel;
      3. per-(partition, group) counts — metadata-sized (≤ partitions
         × groups rows) — cumulated per group over the partition index
         (range partition indices are ordered by key range, which is
         what makes the cumulative offset correct);
      4. broadcast the offsets back: rank = local + offset.

    Ties in ``order_cols`` must be broken by a unique column (range
    partitioning sends equal keys to one partition, so ranking is
    deterministic only when the full order key is unique). Exact
    integer arithmetic → bit-identical to the single-window form
    (``two_phase=False``, the small-N cross-check).

    ``group_size_col`` additionally emits each group's total row count
    — derived from the SAME metadata-sized counts frame, so consumers
    that need (rank, n) pairs (ntile_from_rank, percentiles) don't
    re-scan the input for a separate group-size aggregate.
    """
    gcols = list(group_cols)
    ocols = list(order_cols)
    order_exprs = [F.col(c).asc() for c in [*gcols, *ocols]]
    if not two_phase:
        w = W.partitionBy(*gcols).orderBy(*[F.col(c).asc() for c in ocols])
        out = df.withColumn(out_col, F.row_number().over(w).cast("bigint"))
        if group_size_col:
            size_w = W.partitionBy(*gcols).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
            out = out.withColumn(
                group_size_col, F.count(F.lit(1)).over(size_w).cast("bigint")
            )
        return out
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # localCheckpoint freezes the (row -> __pid) assignment: spark_
    # partition_id is NONDETERMINISTIC (range boundaries come from
    # sampling), and this frame is consumed twice (ranked rows + the
    # offsets aggregate).  If the two subtrees re-evaluate the exchange
    # independently — exchange reuse is an optimization, never a
    # guarantee — their pid assignments can disagree and the offsets
    # join silently drops/shifts rows.  Materializing once is the
    # correctness fix; the cost is one pass of the projected input to
    # executor storage (disk-spillable), amortized by both consumers.
    part = (
        df.repartitionByRange(n_parts, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = W.partitionBy("__pid", *gcols).orderBy(*[F.col(c).asc() for c in ocols])
    local = part.withColumn("__local_rn", F.row_number().over(local_w).cast("bigint"))
    counts = part.groupBy("__pid", *gcols).agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = (
        W.partitionBy(*gcols)
        .orderBy(F.col("__pid").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    size_cols = (
        [
            F.sum("__cnt")
            .over(W.partitionBy(*gcols))
            .cast("bigint")
            .alias(group_size_col)
        ]
        if group_size_col
        else []
    )
    offsets = counts.select(
        "__pid",
        *gcols,
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).cast("bigint").alias("__off"),
        *size_cols,
    )
    out = (
        local.join(F.broadcast(offsets), on=["__pid", *gcols])
        .withColumn(out_col, (F.col("__local_rn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__local_rn", "__off")
    )
    return out


def ntile_from_rank(rank_col: str, n_col: str, k: int) -> Column:
    """Standard-SQL NTILE(k) bucket from a 1-based in-group rank column
    and a group-size column — the first (n mod k) buckets take
    ceil(n/k) rows, the rest floor(n/k). Closed-form BIGINT floor
    division (`div`), so it composes with grouped_rank_two_phase into
    a skew-proof ntile bit-identical to the window-function NTILE.
    CASE evaluates lazily per row, so the small-bucket division never
    sees q = 0 (groups with n < k land entirely in the first branch)."""
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= ({n_col} % {k}) * (({n_col} div {k}) + 1) "
        f"THEN ({rank_col} - 1) div (({n_col} div {k}) + 1) + 1 "
        f"ELSE ({n_col} % {k}) + ({rank_col} - 1 - ({n_col} % {k}) * (({n_col} div {k}) + 1)) "
        f"div ({n_col} div {k}) + 1 END AS INT)"
    )


def ewma_last(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    value_col: str,
    alpha: float = 0.25,
    order_tiebreak: Sequence[str] = (),
    out_col: str = "ewma",
) -> DataFrame:
    """Per-group exponentially weighted moving average of ``value_col``
    in event-time order, returning each group's FINAL smoothed value —
    the classic decayed-activity score (recurrence: s_0 = x_0,
    s_i = α·x_i + (1−α)·s_{i−1}).

    EWMA is a sequential fold, which Spark windows cannot express
    (no carry between rows) and a distributed float sum would make
    order-dependent. Expressed instead as collect → ``sort_array`` →
    ``F.aggregate`` seeded with the first element: a per-group
    LEFT-TO-RIGHT fold, bit-identical run-to-run AND engine-to-engine
    (DuckDB's ``list_reduce`` folds in the same order with the same
    first-element seed — the q65 fold-parity property), so an
    inherently sequential statistic stays value-hash verifiable.
    Pick α with an exact binary representation (0.25, 0.5, 0.125…) so
    the per-step multipliers introduce no decimal-literal rounding.

    Scale posture: one shuffle (the groupBy); per-group state is the
    group's own rows — bounded by events-per-entity, not corpus size
    (a user's history fits in an executor; a group that does not —
    telemetry with 10^8 rows per key — uses ``ewma_last_segmented``
    below: per-time-bucket affine folds composed per group, bounded by
    bucket size instead of history size).

    Ties in (ts, tiebreak) must be unique per group for a total order
    — pass the event id.
    """
    order_cols = [F.unix_micros(F.col(ts)).alias("__ts_us")] + [
        F.col(c).cast("bigint").alias(f"__tb{i}") for i, c in enumerate(order_tiebreak)
    ]
    packed = F.struct(*order_cols, F.col(value_col).cast("double").alias("__v"))
    arr = F.sort_array(F.collect_list(packed))
    vals = F.transform(arr, lambda s: s["__v"])
    a = float(alpha)
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
    )
    return df.groupBy(*partition).agg(
        F.count(F.lit(1)).alias("n_events"), fold.alias(out_col)
    )


def ewma_last_segmented(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    value_col: str,
    alpha: float = 0.25,
    order_tiebreak: Sequence[str] = (),
    out_col: str = "ewma",
    chunk_micros: int = 86_400_000_000,
) -> DataFrame:
    """``ewma_last`` for HOT entities — the segmented-scan variant the
    plain fold's docstring promises: per-group state is bounded by one
    TIME BUCKET of the entity's events, not its whole history, so a
    telemetry key with 10^8 lifetime events still folds in bounded
    memory (one day of a 1 kHz feed is ~9e7… pick ``chunk_micros`` so
    rate × width fits a task).

    The EWMA step s' = α·x + (1−α)·s is AFFINE in s, so a contiguous
    run composes to one affine map s ↦ W·s + B with W = (1−α)^m
    (folded multiply) and B the zero-seeded fold of the same
    recurrence.  Algorithm:

      1. chunk = floor(event-time µs / chunk_micros) — DETERMINISTIC
         from row content alone (exact integer floor division, valid
         for pre-1970 timestamps).  No ranks, no dependence on Spark
         partitioning: unlike a spark_partition_id-based split, the
         chunking cannot disagree between re-evaluations of the plan;
      2. one aggregate keyed on (group, chunk) folds each chunk's
         time-sorted values to (W, B, S, cnt), where S is the chunk's
         first-element-seeded value (used iff the chunk is the group's
         first) — a hot group spreads over its time buckets;
      3. one aggregate per group folds the (span/chunk_micros)-bounded
         chunk summaries in chunk order: acc = S_first, then
         acc = W_k·acc + B_k per later chunk.

    DETERMINISM, not bit-equality with the plain fold: for a fixed
    ``chunk_micros`` the result is bit-identical run-to-run and
    engine-to-engine — an independent engine replaying the same
    chunked recurrence (the q119 DuckDB oracle: per-chunk
    ``list_reduce`` + a recursive CTE over chunk summaries)
    hash-matches exactly.  Relative to the unsegmented fold the result
    differs only by float rounding-order (ulp-scale; exactly equal
    whenever the arithmetic is exact — see the property tests), which
    is the standard segmented-scan contract.

    Ties in (ts, tiebreak) must be unique per group for a total order
    — pass the event id.
    """
    a = float(alpha)
    gcols = list(partition)
    w_us = int(chunk_micros)
    ts_us = F.unix_micros(F.col(ts))
    # exact floor division (ts - pmod(ts, w) is an exact multiple, so
    # `div` is safe on it for ANY sign — the joins.py `div` caveat)
    chunk = F.expr(
        f"(unix_micros({ts}) - pmod(unix_micros({ts}), {w_us}L)) div {w_us}L"
    )
    pre = df.select(
        *gcols,
        chunk.alias("__chunk"),
        F.struct(
            ts_us.alias("__ts_us"),
            *[
                F.col(c).cast("bigint").alias(f"__tb{i}")
                for i, c in enumerate(order_tiebreak)
            ],
            F.col(value_col).cast("double").alias("__v"),
        ).alias("__row"),
    )
    vals = F.transform(F.sort_array(F.collect_list(F.col("__row"))), lambda s: s["__v"])
    step = lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc  # noqa: E731
    per_chunk = pre.groupBy(*gcols, "__chunk").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.aggregate(vals, F.lit(1.0), lambda acc, x: F.lit(1.0 - a) * acc).alias("__w"),
        F.aggregate(vals, F.lit(0.0), step).alias("__b"),
        F.aggregate(
            F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
            F.element_at(vals, 1),
            step,
        ).alias("__s"),
    )
    summaries = F.sort_array(
        F.collect_list(F.struct("__chunk", "__w", "__b", "__s", "__cnt"))
    )
    compose = F.aggregate(
        F.slice(summaries, 2, F.greatest(F.size(summaries) - 1, F.lit(0))),
        F.element_at(summaries, 1)["__s"],
        lambda acc, c: c["__w"] * acc + c["__b"],
    )
    return per_chunk.groupBy(*gcols).agg(
        F.sum("__cnt").cast("bigint").alias("n_events"), compose.alias(out_col)
    )


def throttle_last(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    min_gap_micros: int,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Per-group event THROTTLE (debounce): walking each group in
    event-time order, an event is KEPT iff it is at least
    ``min_gap_micros`` after the last KEPT event; the first event is
    always kept. Returns per group (n_events, n_kept, kept_ts_sum) —
    the kept-set checksum makes the decision sequence value-checkable
    without shipping the set.

    This is NOT gap-island sessionization (q36/q126 keep one event per
    ISLAND — a chain of sub-gap events extends the island, suppressing
    later events forever): throttling re-arms from the last KEPT
    event, so a long burst still yields one event per ``min_gap``.
    The keep decision depends on prior keep decisions — a true
    sequential fold, inexpressible as lag/window — expressed as
    collect → sort_array → F.aggregate with a grow-only array
    accumulator of kept timestamps (DuckDB's list_reduce replays the
    identical fold, so pure integer-µs arithmetic hash-matches).

    Scale posture: q113's class — one shuffle, per-group state bounded
    by events-per-entity; hot entities (10^8 rows/key) use
    ``throttle_last_segmented`` below — per-time-chunk keep-chain
    tables composed across chunk boundaries, state bounded by chunk
    size, EXACTLY equal to this fold (integer arithmetic).
    """
    order_cols = [F.unix_micros(F.col(ts)).alias("__ts_us")] + [
        F.col(c).cast("bigint").alias(f"__tb{i}") for i, c in enumerate(order_tiebreak)
    ]
    arr = F.sort_array(F.collect_list(F.struct(*order_cols)))
    tss = F.transform(arr, lambda s: s["__ts_us"])
    gap = F.lit(int(min_gap_micros)).cast("bigint")
    kept = F.aggregate(
        F.slice(tss, 2, F.greatest(F.size(tss) - 1, F.lit(0))),
        F.slice(tss, 1, 1),  # init: first event always kept
        lambda acc, t: F.when(
            t >= F.element_at(acc, -1) + gap, F.concat(acc, F.array(t))
        ).otherwise(acc),
    )
    return df.groupBy(*partition).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.size(kept).alias("n_kept"),
        F.aggregate(kept, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "kept_ts_sum"
        ),
    )

def throttle_last_segmented(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    min_gap_micros: int,
    chunk_micros: int = 86_400_000_000,
    method: str = "expr",
) -> DataFrame:
    """``throttle_last`` for HOT entities — the segmented-scan variant
    the fold's docstring promises: per-task state is bounded by one
    TIME CHUNK of an entity's events, not its whole history.

    Unlike EWMA (affine in the carried state), the throttle's carried
    state is the last-KEPT timestamp and a chunk's contribution is a
    PIECEWISE-CONSTANT function of it: the incoming state ``s`` picks
    the chunk's first kept event (first t ≥ s + gap) and everything
    after that is internally determined.  So the per-chunk summary is
    a small KEEP-CHAIN TABLE, not a single triple:

      1. chunk = floor(event-time µs / chunk_micros) — deterministic
         from row content alone (same contract as
         ``ewma_last_segmented``);
      2. per (group, chunk), compute for every CANDIDATE first-kept
         index i the chain aggregate (t_i, kept-count, kept-ts-sum,
         last-kept) of the keep chain starting at i.  Candidates are
         i=0 plus every i whose PREDECESSOR falls in the chunk's
         first gap window (T[i-1] < chunk_start + gap): an incoming
         state always satisfies s < chunk_start, so s + gap can land
         on no later entry point — the table is bounded by
         rate × gap events, not chunk size;
      3. one aggregate per group folds the chunk tables in chunk
         order: the first chunk contributes its self-chain (candidate
         i=0 — the first event is always kept); each later chunk
         selects the first table entry with t ≥ acc.last + gap (an
         empty selection means the whole chunk is suppressed and the
         state passes through, which happens only when gap exceeds
         the chunk's span).

    Pure integer-µs arithmetic, so the result is EXACTLY equal to the
    ``throttle_last`` fold — not merely ulp-close like the EWMA pair —
    for any ``chunk_micros`` (property-tested across chunk widths,
    including widths smaller than the gap).

    Two chunk-table backends, same answer (both property-tested):

    - ``method="expr"`` (default): the chain per candidate is a scalar
      F.aggregate fold over the chunk's sorted array — pure JVM
      higher-order expressions, zero Python.  Per-chunk cost
      O(candidates × chunk events); the right choice whenever the gap
      window holds few events (any human-scale feed).  MEASURED: the
      per-group Arrow round-trip of an applyInPandas stage costs
      ~2-3 ms per (group, chunk) regardless of size — 4k chunks made
      the pandas path ~10 s where this path is sub-second.
    - ``method="pandas"``: numpy pointer-doubling over the successor
      function succ(i) = first j with T[j] ≥ T[i] + gap —
      O(n log n) per chunk INDEPENDENT of candidate count; the scale
      path for genuinely dense chunks (rate × gap ≫ 10³, e.g. kHz
      telemetry throttled at multi-hour gaps) where expr's
      candidates × n product explodes.  Arrow-batched
      ``applyInPandas``, state still bounded by chunk.

    Decisions depend on timestamps only, so no tiebreak argument:
    equal-timestamp events collapse to the same keep decision either
    way (gap > 0 suppresses the duplicate), and (n_kept, kept_ts_sum)
    are tiebreak-invariant.
    """
    gap = int(min_gap_micros)
    w_us = int(chunk_micros)
    gcols = list(partition)

    pre = df.select(
        *gcols,
        F.unix_micros(F.col(ts)).alias("__ts_us"),
        F.expr(
            f"(unix_micros({ts}) - pmod(unix_micros({ts}), {w_us}L)) div {w_us}L"
        ).alias("__chunk"),
    )

    if method == "expr":
        arr = F.sort_array(F.collect_list(F.col("__ts_us")))

        def chain_entries(tss):
            n = F.size(tss)
            cs_gap = (F.col("__chunk") * F.lit(w_us) + F.lit(gap)).cast("bigint")
            cand = F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == 1) | (F.element_at(tss, i - 1) < cs_gap),
            )
            t0 = lambda i: F.element_at(tss, i)  # noqa: E731
            return F.transform(
                cand,
                lambda i: F.aggregate(
                    F.slice(tss, i + 1, n - i),
                    F.struct(
                        t0(i).alias("t"),
                        F.lit(1).cast("bigint").alias("cnt"),
                        t0(i).alias("s"),
                        t0(i).alias("last"),
                    ),
                    lambda acc, t: F.when(
                        t >= acc["last"] + F.lit(gap),
                        F.struct(
                            acc["t"].alias("t"),
                            (acc["cnt"] + F.lit(1)).alias("cnt"),
                            (acc["s"] + t).alias("s"),
                            t.alias("last"),
                        ),
                    ).otherwise(acc),
                ),
            )

        per_chunk = (
            pre.groupBy(*gcols, "__chunk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__n"), arr.alias("__tss"))
            .withColumn("__entries", chain_entries(F.col("__tss")))
            .drop("__tss")
        )
    elif method == "pandas":
        import numpy as np
        import pandas as pd

        entry_t = "array<struct<t: bigint, cnt: bigint, s: bigint, last: bigint>>"
        out_schema = (
            ", ".join(f"{c} {t}" for c, t in pre.dtypes if c != "__ts_us")
            + f", __n bigint, __entries {entry_t}"
        )

        def chunk_table(key, pdf):
            T = np.sort(pdf["__ts_us"].to_numpy(np.int64))
            n = len(T)
            # chain aggregates for every start index, by pointer
            # doubling: nxt[i] = first index ≥ T[i]+gap; sentinel n
            nxt = np.searchsorted(T, T + gap, side="left")
            cnt = np.ones(n, np.int64)
            ssum = T.copy()
            last = T.copy()
            while (nxt < n).any():
                alive = nxt < n
                j = nxt[alive]
                cnt[alive] += cnt[j]
                ssum[alive] += ssum[j]
                last[alive] = last[j]
                nxt2 = np.full(n, n, np.int64)
                nxt2[alive] = nxt[j]
                nxt = nxt2
            chunk_id = int(pdf["__chunk"].iloc[0])
            chunk_start = chunk_id * w_us
            cand = np.zeros(n, bool)
            cand[0] = True
            if n > 1:
                cand[1:] = T[:-1] < chunk_start + gap
            idx = np.flatnonzero(cand)
            entries = [
                {
                    "t": int(T[i]),
                    "cnt": int(cnt[i]),
                    "s": int(ssum[i]),
                    "last": int(last[i]),
                }
                for i in idx
            ]
            row = {c: [v] for c, v in zip(gcols, key[: len(gcols)])}
            row["__chunk"] = [chunk_id]
            row["__n"] = [n]
            row["__entries"] = [entries]
            return pd.DataFrame(row)

        per_chunk = pre.groupBy(*gcols, "__chunk").applyInPandas(
            chunk_table, out_schema
        )
    else:
        raise ValueError(f"method must be 'expr' or 'pandas', got {method!r}")

    summaries = F.sort_array(
        F.collect_list(F.struct("__chunk", "__n", "__entries"))
    )
    first = F.element_at(F.element_at(summaries, 1)["__entries"], 1)
    init = F.struct(
        first["cnt"].alias("k"), first["s"].alias("s"), first["last"].alias("last")
    )

    def step(acc, c):
        sel = F.filter(c["__entries"], lambda e: e["t"] >= acc["last"] + F.lit(gap))
        h = F.element_at(sel, 1)
        return F.when(
            F.size(sel) > 0,
            F.struct(
                (acc["k"] + h["cnt"]).alias("k"),
                (acc["s"] + h["s"]).alias("s"),
                h["last"].alias("last"),
            ),
        ).otherwise(acc)

    fold = F.aggregate(
        F.slice(summaries, 2, F.greatest(F.size(summaries) - 1, F.lit(0))), init, step
    )
    return per_chunk.groupBy(*gcols).agg(
        F.sum("__n").cast("bigint").alias("n_events"),
        fold["k"].cast("int").alias("n_kept"),
        fold["s"].alias("kept_ts_sum"),
    )


def clamped_running_balance(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    delta_col: str,
    order_tiebreak: Sequence[str] = (),
    scale: int = 2,
) -> DataFrame:
    """Stock-ledger fold: walking each group in event-time order,
    ``bal_t = max(0, bal_{t-1} + delta_t)`` — the inventory /
    prepaid-credit semantics where a balance can never go negative and
    the shortfall is FORFEITED, not carried. Like the throttle (q128)
    and unlike EWMA, the recurrence is non-affine (the clamp makes
    each step a piecewise function of the carried state), so no
    lag/window form exists; it is the third member of the
    sequential-fold family, expressed the same way: collect →
    sort_array → F.aggregate with a scalar struct accumulator
    (bal, max_bal, n_clamps).

    Deltas are quantized to 10^-scale integer units with half-away
    ROUND (the one rounding mode Spark doubles and DuckDB share), so
    the fold is pure BIGINT arithmetic and the oracle can replay it
    row-at-a-time as a recursive CTE (the q128 pattern — DuckDB
    list_reduce struct accumulators are untrustworthy).

    Returns per group: (n_events, final_bal, max_bal, n_clamps), all
    in integer units. Scale posture: q113/q128's class — one shuffle,
    per-group state bounded by events-per-entity; a hot entity
    escalates to a keep-chain segmented variant exactly like
    ``throttle_last_segmented`` (the entry state is the incoming
    balance; per-chunk tables are piecewise-linear in it)."""
    unit = 10**scale
    # a NULL delta would poison the fold (acc.bal + NULL nulls the
    # carried state for the rest of the group, silently) — fail fast
    # instead, like ivm.apply_agg_deltas does on malformed CDC ops
    delta = F.when(
        F.col(delta_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"clamped_running_balance: NULL {delta_col} at ts="),
                F.col(ts).cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.col(delta_col))
    order_cols = [F.unix_micros(F.col(ts)).alias("__t")] + [
        F.col(c).cast("bigint").alias(f"__tb{i}") for i, c in enumerate(order_tiebreak)
    ] + [F.round(delta * unit, 0).cast("bigint").alias("__d")]
    arr = F.sort_array(F.collect_list(F.struct(*order_cols)))
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        zero.alias("bal"), zero.alias("maxb"), zero.alias("clamps")
    )

    def step(acc, x):
        nb = acc["bal"] + x["__d"]
        clamped = nb < 0
        bal = F.when(clamped, zero).otherwise(nb)
        return F.struct(
            bal.alias("bal"),
            F.greatest(acc["maxb"], bal).alias("maxb"),
            (acc["clamps"] + clamped.cast("bigint")).alias("clamps"),
        )

    # fold aggregated ONCE (three field-extractions of one agg column,
    # not three independent collect+fold expressions)
    folded = F.aggregate(arr, init, step)
    out = df.groupBy(*partition).agg(
        F.count(F.lit(1)).alias("n_events"), folded.alias("__f")
    )
    return out.select(
        *partition,
        "n_events",
        F.col("__f.bal").alias("final_bal"),
        F.col("__f.maxb").alias("max_bal"),
        F.col("__f.clamps").alias("n_clamps"),
    )


def holt_level_trend(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per
    group, returning each group's FINAL (level, trend) state and the
    one-step-ahead forecast ``level + trend`` — the trend-aware member
    of the smoothing family next to ``ewma_last`` (level only) and the
    seasonal-naive backtest (q181).

    Recurrence (Hyndman & Athanasopoulos, fpp3 §8.2 — public
    textbook): seeded with l_1 = x_1, b_1 = x_2 - x_1, then for t ≥ 2
        l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}
    (note x_2 seeds b_1 AND is consumed by the t=2 step — the
    textbook convention, mirrored exactly by the oracle). A
    one-element group has trend 0 by definition.

    Like EWMA the recurrence carries state no window frame can
    express, so it is the sequential-fold pattern: collect →
    ``sort_array`` → ``F.aggregate`` with a (level, trend) struct
    accumulator. α and β must be exact binary fractions (0.5, 0.25)
    so every multiplier is representation-exact; the fold is then
    bit-identical run-to-run and engine-to-engine (the oracle replays
    it row-at-a-time as a recursive CTE — the q128/q173 discipline
    for struct accumulators).

    Scale posture: one shuffle; per-group state is the group's own
    history (bounded by events-per-entity). A hot entity composes
    per-chunk AFFINE maps exactly like ``ewma_last_segmented`` — the
    Holt step is affine in (l, b): (l,b) ↦ M·(l,b) + c·x with
    constant M, so contiguous runs fold to one 2×2 affine map.
    """
    a = float(alpha)
    bt = float(beta)
    order_cols = [F.unix_micros(F.col(ts)).alias("__t")] + [
        F.col(c).cast("bigint").alias(f"__tb{i}") for i, c in enumerate(order_tiebreak)
    ]
    packed = F.struct(*order_cols, F.col(value_col).cast("double").alias("__v"))
    arr = F.sort_array(F.collect_list(packed))
    vals = F.transform(arr, lambda s: s["__v"])
    x0 = F.element_at(vals, 1)
    x1 = F.element_at(vals, 2)
    init = F.struct(
        x0.alias("l"),
        F.when(F.size(vals) >= 2, x1 - x0).otherwise(F.lit(0.0)).alias("b"),
    )

    def step(acc, x):
        nl = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        nb = F.lit(bt) * (nl - acc["l"]) + F.lit(1.0 - bt) * acc["b"]
        return F.struct(nl.alias("l"), nb.alias("b"))

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))), init, step
    )
    out = df.groupBy(*partition).agg(
        F.count(F.lit(1)).alias("n_events"), folded.alias("__f")
    )
    return out.select(
        *partition,
        "n_events",
        F.col("__f.l").alias("level"),
        F.col("__f.b").alias("trend"),
        (F.col("__f.l") + F.col("__f.b")).alias("forecast_1"),
    )


def cusum_alarms(
    df: DataFrame,
    *,
    partition: Sequence[str],
    ts: str,
    value_col: str,
    scale: int = 4,
    threshold: float = 5.0,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """One-sided CUSUM change-point detection per group (Page 1954):
    walking the series in event-time order against the group's own
    mean, ``S_t = max(0, S_{t-1} + (x_t - μ))``; when S crosses the
    decision threshold h an ALARM fires and S restarts at 0. Returns
    per group (n_events, n_alarms, max_s, final_s) — the sequential
    anomaly detector next to the batch median/MAD outlier gate (q168).

    Exactness: values are quantized to 10^-scale integer units
    (half-away ROUND — the one mode Spark and DuckDB share), and the
    whole fold runs SCALED BY n so the mean needs no division:
        S'_scaled = max(0, S_scaled + (n·x_q - sum_q))
        alarm  ⟺  S'_scaled > h_q·n
    Pure BIGINT arithmetic — engine-stable, order-deterministic, and
    replayable row-at-a-time by the oracle's recursive CTE (the
    q128/q173 struct-accumulator discipline). Magnitudes: |n·x_q| ≤
    events-per-entity × 10^(scale+digits) — a 10^6-event entity with
    10^6-unit values stays < 2^62.

    Scale posture: one shuffle; state bounded by events-per-entity
    (sum_q and n come from the collected array itself, no second
    pass). max_s/final_s are reported in the n-scaled units alongside
    n_events so callers can rescale.
    """
    unit = 10**scale
    h_q = int(round(threshold * unit))
    order_cols = [F.unix_micros(F.col(ts)).alias("__t")] + [
        F.col(c).cast("bigint").alias(f"__tb{i}") for i, c in enumerate(order_tiebreak)
    ] + [F.round(F.col(value_col) * unit, 0).cast("bigint").alias("__v")]
    arr = F.sort_array(F.collect_list(F.struct(*order_cols)))
    vals = F.transform(arr, lambda s: s["__v"])
    zero = F.lit(0).cast("bigint")
    n = F.size(vals).cast("bigint")
    sum_q = F.aggregate(vals, zero, lambda acc, x: acc + x)
    init = F.struct(zero.alias("s"), zero.alias("alarms"), zero.alias("maxs"))

    def step(acc, x):
        st = F.greatest(zero, acc["s"] + (n * x - sum_q))
        fired = st > F.lit(h_q) * n
        return F.struct(
            F.when(fired, zero).otherwise(st).alias("s"),
            (acc["alarms"] + fired.cast("bigint")).alias("alarms"),
            F.greatest(acc["maxs"], st).alias("maxs"),
        )

    folded = F.aggregate(vals, init, step)
    out = df.groupBy(*partition).agg(
        F.count(F.lit(1)).alias("n_events"), folded.alias("__f")
    )
    return out.select(
        *partition,
        "n_events",
        F.col("__f.alarms").alias("n_alarms"),
        F.col("__f.maxs").alias("max_s_scaled"),
        F.col("__f.s").alias("final_s_scaled"),
    )


def grouped_cumsum_two_phase(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str],
    *,
    exclusive: bool = False,
    two_phase: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group running sums of ``value_cols`` in ``order_cols`` order
    WITHOUT funnelling any group through a single task — the
    grouped_rank_two_phase idiom generalized from COUNT to SUM, for the
    ECDF / Lorenz / rank-statistic family (exact AUC, KS, Gini) whose
    core is "cumulative count-weight below this value".

    Emits one ``__cum_<c>`` BIGINT column per value col (inputs must be
    integer-typed — the callers sum counts, never floats).
    ``exclusive=True`` gives the strictly-below prefix (the Mann-Whitney
    convention); rows at EQUAL order keys must already be collapsed
    (callers aggregate to one row per distinct key first) or "below"
    would split ties by partition accident.

    Phase plan: range-exchange on (group, order) → partition-local
    window (bounded by partition size, not group size) → per-
    (partition, group) subtotals (metadata-sized) → broadcast exclusive
    offsets back. localCheckpoint pins the nondeterministic row→pid map
    for its two consumers (windows.py:195 rationale). Exact integer
    arithmetic → bit-identical to the single-window form
    (``two_phase=False``, the small-N oracle cross-check).
    """
    gcols = list(group_cols)
    ocols = list(order_cols)
    vcols = list(value_cols)
    hi = -1 if exclusive else 0
    if not two_phase:
        w = (
            W.partitionBy(*gcols)
            .orderBy(*[F.col(c).asc() for c in ocols])
            .rowsBetween(W.unboundedPreceding, hi)
        )
        out = df
        for c in vcols:
            out = out.withColumn(
                f"__cum_{c}",
                F.coalesce(F.sum(F.col(c).cast("bigint")).over(w), F.lit(0)).cast(
                    "bigint"
                ),
            )
        return out
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    order_exprs = [F.col(c).asc() for c in [*gcols, *ocols]]
    part = (
        df.repartitionByRange(n_parts, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = (
        W.partitionBy("__pid", *gcols)
        .orderBy(*[F.col(c).asc() for c in ocols])
        .rowsBetween(W.unboundedPreceding, hi)
    )
    local = part
    for c in vcols:
        local = local.withColumn(
            f"__loc_{c}",
            F.coalesce(F.sum(F.col(c).cast("bigint")).over(local_w), F.lit(0)).cast(
                "bigint"
            ),
        )
    subtotals = part.groupBy("__pid", *gcols).agg(
        *[F.sum(F.col(c).cast("bigint")).alias(f"__sub_{c}") for c in vcols]
    )
    off_w = (
        W.partitionBy(*gcols)
        .orderBy(F.col("__pid").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = subtotals.select(
        "__pid",
        *gcols,
        *[
            F.coalesce(F.sum(f"__sub_{c}").over(off_w), F.lit(0))
            .cast("bigint")
            .alias(f"__off_{c}")
            for c in vcols
        ],
    )
    out = local.join(F.broadcast(offsets), on=["__pid", *gcols])
    for c in vcols:
        out = out.withColumn(
            f"__cum_{c}", (F.col(f"__loc_{c}") + F.col(f"__off_{c}")).cast("bigint")
        )
    return out.drop("__pid", *[f"__loc_{c}" for c in vcols], *[f"__off_{c}" for c in vcols])


def seasonal_decompose(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    order_col: str,
    hod_col: str,
    value_col: str,
    period: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    half of STL, Cleveland et al. '90) over a DENSE per-group series:
    trend via the centered 2x``period`` moving average, seasonal
    indices as centered per-slot means of the detrended series,
    residual diagnostics per slot.

    Exactness discipline: the trend numerator is two INTEGER window
    sums (s1 over [-p/2, p/2-1] + s2 over [-p/2+1, p/2]; their sum
    half-weights the endpoints exactly), ONE division by 2p; every
    subsequent float mean quantizes its terms to DECIMAL(28,10) before
    the distributed sum (the grouped_autocorr rule); MAX/|r| are
    order-independent. Trend is defined only where BOTH windows are
    full (count = period), so series edges never dilute the indices.

    Scale: ROWS windows partitioned by the group — the series frame is
    one row per (group, period-slot-time), i.e. time-granularity
    metadata (a decade of hours is 87k rows), never the raw events.
    Input must be dense per group (zero-fill on a spine first);
    ``hod_col`` is the precomputed seasonal slot (hour-of-day).

    Returns per (group, slot): n_obs (full-trend rows), s_index,
    avg_abs_resid, max_abs_resid.
    """
    gcols = list(group_cols)
    half = period // 2
    w1 = (
        W.partitionBy(*gcols)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(-half, half - 1)
    )
    w2 = (
        W.partitionBy(*gcols)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(-half + 1, half)
    )
    x = F.col(value_col).cast("bigint")
    full = (F.count(F.lit(1)).over(w1) == period) & (
        F.count(F.lit(1)).over(w2) == period
    )
    trend = F.when(
        full,
        (F.sum(x).over(w1) + F.sum(x).over(w2)).cast("double")
        / F.lit(2.0 * period),
    )
    base = df.select(
        *gcols,
        F.col(hod_col).alias("__slot"),
        (x.cast("double") - trend).alias("__d"),
    ).where(F.col("__d").isNotNull())
    dec = lambda c: c.cast("decimal(28,10)")  # noqa: E731
    raw = base.groupBy(*gcols, "__slot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(dec(F.col("__d"))).alias("__sd"),
    )
    raw = raw.withColumn(
        "__s_raw", F.col("__sd").cast("double") / F.col("n_obs")
    )
    wg = W.partitionBy(*gcols)
    centered = raw.withColumn(
        "__s",
        F.col("__s_raw")
        - F.sum(dec(F.col("__s_raw"))).over(wg).cast("double")
        / F.count(F.lit(1)).over(wg),
    ).select(*gcols, "__slot", "n_obs", "__s")
    resid = base.join(centered, [*gcols, "__slot"]).select(
        *gcols,
        "__slot",
        "n_obs",
        "__s",
        F.abs(F.col("__d") - F.col("__s")).alias("__ar"),
    )
    return (
        resid.groupBy(*gcols, "__slot")
        .agg(
            F.max("n_obs").alias("n_obs"),
            F.round(F.max("__s"), 6).alias("s_index"),
            F.round(
                F.sum(dec(F.col("__ar"))).cast("double") / F.max("n_obs"), 6
            ).alias("avg_abs_resid"),
            F.round(F.max("__ar"), 6).alias("max_abs_resid"),
        )
        .withColumnRenamed("__slot", "slot")
        .orderBy(*gcols, "slot")
    )


def haar_energy(
    series: DataFrame,
    *,
    index_col: str,
    value_col: str,
    levels: int = 6,
) -> DataFrame:
    """Haar wavelet energy spectrum of an INTEGER series — which time
    scales carry the variation (hourly jitter vs daily swing), in pure
    integer DataFrame algebra (no FFT, no floats until the final
    share division).

    Level l pairs consecutive level-(l-1) approximations (the series
    itself at l=1): detail d = x_even - x_odd, approximation
    a = x_even + x_odd (unnormalized Haar — the 1/sqrt(2) factors are
    deferred into the ENERGY as the exact integer scaling
    energy_l = sum(d^2) / 2^l, kept as the DECIMAL(38,0) numerator
    sum(d^2) * 2^(levels-l) over the common denominator 2^levels).
    Incomplete trailing pairs are dropped (count = 2 gate), so every
    reported pair is exact.

    Returns per level: n_pairs, detail_energy_num (the scaled exact
    integer), energy_share (one division by the total — the spectrum).

    Scale: level l runs one map-side-combinable groupBy on index div 2
    over a frame that HALVES each level; the levels run on the shared
    fixed-point loop, which checkpoints each level's frame for its two
    consumers (energy agg + next level); the input is a
    time-granularity series (metadata-sized — document at call sites).
    """
    def pair_up(cur: DataFrame) -> DataFrame:
        signed = F.when(F.col("__i") % 2 == 0, F.col("__x")).otherwise(-F.col("__x"))
        return cur.groupBy(F.expr("__i div 2").alias("__i")).agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(signed).cast("bigint").alias("__d"),
            F.sum("__x").cast("bigint").alias("__x"),
        ).where(F.col("__cnt") == 2)

    cur = series.select(
        F.col(index_col).cast("bigint").alias("__i"),
        F.col(value_col).cast("bigint").alias("__x"),
    )
    per_level = [
        paired.agg(
            F.lit(lvl).alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.coalesce(
                F.sum(
                    (F.col("__d") * F.col("__d")).cast("decimal(38,0)")
                    * F.lit(1 << (levels - lvl)).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("detail_energy_num"),
        )
        for lvl, paired in enumerate(fx.rounds(cur, pair_up, levels), 1)
    ]
    spec = reduce(DataFrame.unionByName, per_level)
    wt = W.partitionBy()  # `levels`-row frame — metadata-sized
    total = F.sum("detail_energy_num").over(wt)
    return spec.select(
        "level",
        "n_pairs",
        F.col("detail_energy_num").cast("double").alias("detail_energy"),
        # try_divide: a constant series has zero total detail energy;
        # NULL share then matches DuckDB's divide-by-zero NULL
        F.round(
            F.try_divide(F.col("detail_energy_num").cast("double"), total.cast("double")),
            6,
        ).alias("energy_share"),
    ).orderBy("level")


def greedy_interval_schedule(
    df: DataFrame,
    *,
    partition: Sequence[str],
    start_col: str,
    end_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Maximum non-overlapping interval selection per group — the
    earliest-end-first greedy, which is PROVABLY optimal for count
    (the exchange argument; CLRS §16.1): sort by (end, start, tie),
    keep an interval iff its start is at or after the last kept end.
    The scheduling/booking/dedup-by-time primitive.

    Sequential-fold class (q128/q173): one groupBy shuffle; the
    greedy is a per-group in-row fold over the sorted interval array
    (state = last kept end + counters, all BIGINT) — no window, no
    UDF, and the oracle replays it as a recursive CTE. Touching
    intervals (start == previous end) are compatible.

    Returns per group: n_intervals, n_kept, kept_dur (sum of kept
    interval lengths, BIGINT time units)."""
    gcols = list(partition)
    item = F.struct(
        F.col(end_col).cast("bigint").alias("e"),
        F.col(start_col).cast("bigint").alias("s"),
        F.col(tiebreak_col).alias("tb"),
    )
    grouped = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.array_sort(F.collect_list(item)).alias("__iv"),
    )
    init = F.struct(
        F.lit(None).cast("bigint").alias("last_e"),
        F.lit(0).cast("bigint").alias("kept"),
        F.lit(0).cast("bigint").alias("dur"),
    )

    def step(acc, x):
        take = acc["last_e"].isNull() | (x["s"] >= acc["last_e"])
        return F.struct(
            F.when(take, x["e"]).otherwise(acc["last_e"]).alias("last_e"),
            (acc["kept"] + take.cast("bigint")).alias("kept"),
            (acc["dur"] + F.when(take, x["e"] - x["s"]).otherwise(0)).alias("dur"),
        )

    folded = F.aggregate(F.col("__iv"), init, step)
    return grouped.select(
        *gcols,
        "n_intervals",
        folded["kept"].alias("n_kept"),
        folded["dur"].alias("kept_dur"),
    ).orderBy(*gcols)


def ordered_funnel(
    df: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    horizon_us: int,
) -> DataFrame:
    """Strictly-ordered FIRST-TOUCH conversion funnel: per user, the
    earliest completion time of each funnel step, where the funnel is
    anchored at the user's FIRST step-0 event and step k counts only
    if it happens STRICTLY AFTER the user's step-(k-1) completion and
    within ``horizon_us`` microseconds of that anchor — the
    time-to-convert-from-first-touch semantics of product analytics.

    The first-touch anchor is the CONTRACT, not an approximation
    shortcut: a user who re-enters later and converts inside the
    re-entry's window but not the first entry's is counted as NOT
    converted (this differs from ClickHouse windowFunnel's
    any-qualifying-window maximum). GIVEN the fixed anchor and
    deadline, earliest-completion greedy at every later step is exact:
    taking the minimum qualifying timestamp can only enlarge the
    residual window for subsequent steps, so it dominates any other
    witness sequence (exchange argument — if any assignment completes
    step k inside the window, the greedy one does too).

    Plan shape: one conditional-aggregation groupBy per step, each a
    map-side-combined min on the SAME user key (k small and fixed —
    funnel definitions are 3-5 steps), joined user-to-user so AQE can
    pick shuffle or broadcast; timestamps are BIGINT microseconds
    end-to-end, so the whole fold is integer-exact and the oracle
    replays it as k chained CTEs.

    Returns one row per user that completed step 0:
    (user, t_step0 .. t_step{k-1}) with NULL for uncompleted steps."""
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(ts_col)).alias("__t"),
        F.col(type_col).alias("__e"),
    )
    cur = (
        ev.where(F.col("__e") == steps[0])
        .groupBy("__u")
        .agg(F.min("__t").alias("t0"))
    )
    for k in range(1, len(steps)):
        nxt = (
            ev.where(F.col("__e") == steps[k])
            .join(cur.select("__u", "t0", F.col(f"t{k-1}").alias("__prev")), "__u")
            .where(
                (F.col("__t") > F.col("__prev"))
                & (F.col("__t") <= F.col("t0") + F.lit(int(horizon_us)))
            )
            .groupBy("__u")
            .agg(F.min("__t").alias(f"t{k}"))
        )
        cur = cur.join(nxt, "__u", "left")
    return cur.withColumnRenamed("__u", user_col)


def max_concurrency(
    intervals: DataFrame,
    *,
    start_col: str,
    end_col: str,
    k: int = 20,
) -> DataFrame:
    """Peak-concurrency sweep line: the top-``k`` moments where the
    most intervals [start, end] (inclusive) overlap — max concurrent
    sessions/connections/jobs, the capacity-planning readout of an
    interval table.

    Classic sweep: +1 at start, -1 at end + 1µs, running sum in time
    order; the concurrency level at a boundary is the prefix sum
    through it.  Deltas are merged per DISTINCT timestamp first
    (groupBy, map-side combinable), so the running sum is over the
    distinct-boundary frame and ties carry no engine ambiguity; the
    prefix sum itself is ``grouped_cumsum_two_phase`` — range
    exchange + partition-local windows, never a single-task global
    window.  All-integer arithmetic end to end.

    Returns (peak_ts, concurrent) top-``k`` by (concurrent DESC,
    peak_ts ASC) — deterministic TakeOrdered readout."""
    deltas = intervals.select(
        F.col(start_col).alias("__t"), F.lit(1).alias("__d")
    ).unionAll(
        intervals.select(
            (F.col(end_col) + F.expr("INTERVAL 1 MICROSECOND")).alias("__t"),
            F.lit(-1).alias("__d"),
        )
    )
    per_ts = deltas.groupBy("__t").agg(F.sum("__d").cast("bigint").alias("__d"))
    cum = grouped_cumsum_two_phase(per_ts, [], ["__t"], ["__d"])
    return (
        cum.select(
            F.col("__t").alias("peak_ts"),
            F.col("__cum___d").cast("bigint").alias("concurrent"),
        )
        .orderBy(F.col("concurrent").desc(), F.col("peak_ts").asc())
        .limit(k)
    )
