"""Equivalence tests for the scale rewrites of q111-q114: each rewrite
(salted top-k, binned interval join, fold-EWMA, ledger-guarded rollup)
must be bit-identical to its naive formulation — the rewrites buy
scale, never different answers."""

from __future__ import annotations

import datetime as dt
import functools
import os
import random

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark import catalog
from nyc_taxi_data_prediction_pyspark_spark.operators import joins, topk, windows
from nyc_taxi_data_prediction_pyspark_spark.sources.warehouse import Warehouse
from nyc_taxi_data_prediction_pyspark_spark.streaming import pipeline as stream


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_grouped_topk_matches_plain_window(spark):
    rng = random.Random(7)
    # hot group: 'a' holds 80% of rows — the case the salt exists for
    rows = [
        ("a" if rng.random() < 0.8 else rng.choice("bcd"), i, rng.randrange(10_000))
        for i in range(5_000)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v long").repartition(16)
    order = [F.col("v").desc(), F.col("id").asc()]
    fast = topk.grouped_top_k(df, ["grp"], 7, order, out_col="rk")
    slow = topk.grouped_top_k(df, ["grp"], 7, order, out_col="rk", two_phase=False)
    assert _rows_set(fast) == _rows_set(slow)
    assert fast.where(F.col("rk") > 7).count() == 0


def test_grouped_topk_k_exceeds_group(spark):
    df = spark.createDataFrame(
        [("g", i, i) for i in range(3)], "grp string, id long, v long"
    )
    out = topk.grouped_top_k(df, ["grp"], 10, [F.col("v").desc(), F.col("id").asc()])
    assert out.count() == 3  # groups smaller than k survive whole


def test_interval_overlap_join_matches_nested_loop(spark):
    rng = random.Random(13)
    base = dt.datetime(2026, 1, 1)

    def intervals(n, tag):
        out = []
        for i in range(n):
            s = base + dt.timedelta(minutes=rng.randrange(10_000))
            # spans from sub-bin to multi-bin (0..5 h) — exercises both
            # the residual filter and the first-shared-bin dedup
            e = s + dt.timedelta(minutes=rng.randrange(300))
            out.append((f"{tag}{i}", s, e))
        return out

    left = spark.createDataFrame(intervals(300, "L"), "lid string, ls timestamp, le timestamp")
    right = spark.createDataFrame(intervals(80, "R"), "rid string, rs timestamp, re timestamp")
    binned = joins.interval_overlap_join(
        left,
        right,
        left_start="ls",
        left_end="le",
        right_start="rs",
        right_end="re",
        bin_micros=3_600_000_000,
    ).select("lid", "rid")
    naive = (
        left.crossJoin(right)
        .where((F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le")))
        .select("lid", "rid")
    )
    assert _rows_set(binned) == _rows_set(naive)
    # no pair duplicated by multi-bin overlap
    assert binned.count() == binned.distinct().count()


def test_interval_overlap_join_respects_keys(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 0), dt.datetime(2026, 1, 1, 5))],
        "k int, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 1, 2), dt.datetime(2026, 1, 1, 3)),
            (2, dt.datetime(2026, 1, 1, 2), dt.datetime(2026, 1, 1, 3)),
        ],
        "k int, rs timestamp, re timestamp",
    )
    out = joins.interval_overlap_join(
        left,
        right,
        left_start="ls",
        left_end="le",
        right_start="rs",
        right_end="re",
        bin_micros=3_600_000_000,
        keys=["k"],
    )
    assert out.count() == 1  # the k=2 interval never meets the k=1 session


def test_ewma_matches_python_fold(spark):
    rng = random.Random(21)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(5), i, base + dt.timedelta(seconds=i), rng.random() * 100)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    out = {
        r.user_id: (r.n_events, r.ewma)
        for r in windows.ewma_last(
            df, partition=["user_id"], ts="ts", value_col="value",
            alpha=0.25, order_tiebreak=["event_id"],
        ).collect()
    }
    by_user: dict[int, list[tuple[int, float]]] = {}
    for u, eid, _ts, v in rows:
        by_user.setdefault(u, []).append((eid, v))
    for u, seq in by_user.items():
        acc = None
        for _eid, v in sorted(seq):
            acc = v if acc is None else 0.25 * v + 0.75 * acc
        n, got = out[u]
        assert n == len(seq)
        assert got == acc  # bit-identical left fold, not approx


def test_interval_join_pre_1970_floor_bins(spark):
    """Negative epoch micros: bin ids must use FLOOR division (Spark's
    `div` truncates toward zero), or intervals straddling 1970 misbin
    and the first-shared-bin dedup term diverges from the oracle."""
    left = spark.createDataFrame(
        [(1, dt.datetime(1969, 12, 31, 22, 30), dt.datetime(1970, 1, 1, 1, 30))],
        "k int, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(1969, 12, 31, 23, 0), dt.datetime(1969, 12, 31, 23, 45)),
            (1, dt.datetime(1970, 1, 1, 0, 15), dt.datetime(1970, 1, 1, 0, 45)),
            (1, dt.datetime(1969, 12, 31, 20, 0), dt.datetime(1969, 12, 31, 21, 0)),
        ],
        "k int, rs timestamp, re timestamp",
    )
    out = joins.interval_overlap_join(
        left, right,
        left_start="ls", left_end="le", right_start="rs", right_end="re",
        bin_micros=3_600_000_000, keys=["k"],
    )
    rows = out.collect()
    assert len(rows) == 2  # both overlapping intervals, each exactly once


def _segmented(df, chunk_micros, alpha=0.25):
    return {
        r.user_id: (r.n_events, r.ewma)
        for r in windows.ewma_last_segmented(
            df, partition=["user_id"], ts="ts", value_col="value",
            alpha=alpha, order_tiebreak=["event_id"], chunk_micros=chunk_micros,
        ).collect()
    }


def test_ewma_segmented_exact_regime_equals_fold(spark):
    """α=0.5 (multiply by 0.5 never rounds) + small-integer values +
    short chains keep EVERY float op exact, so the segmented scan must
    equal the sequential fold BIT-FOR-BIT at ANY chunk boundary — the
    algebra check: chunk-level affine composition is the identity
    rewrite of the recurrence."""
    rng = random.Random(7)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(4), i, base + dt.timedelta(hours=i % 37, seconds=i), float(rng.randrange(1024)))
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    fold = {
        r.user_id: (r.n_events, r.ewma)
        for r in windows.ewma_last(
            df, partition=["user_id"], ts="ts", value_col="value",
            alpha=0.5, order_tiebreak=["event_id"],
        ).collect()
    }
    hour = 3_600_000_000
    for width in (hour, 3 * hour, 11 * hour, 10**15):
        seg = _segmented(df, width, alpha=0.5)
        assert seg == fold, f"chunk width {width} diverged in the exact regime"


def test_ewma_segmented_general_floats_close_and_counts_exact(spark):
    """General doubles: segmented differs from the fold only by
    rounding order (ulp-scale), and n_events is exactly preserved."""
    rng = random.Random(3)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(5), i, base + dt.timedelta(minutes=i), rng.random() * 1e6)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    fold = {
        r.user_id: (r.n_events, r.ewma)
        for r in windows.ewma_last(
            df, partition=["user_id"], ts="ts", value_col="value",
            alpha=0.25, order_tiebreak=["event_id"],
        ).collect()
    }
    seg = _segmented(df, 3_600_000_000)
    assert set(seg) == set(fold)
    for u, (n, v) in fold.items():
        sn, sv = seg[u]
        assert sn == n
        assert abs(sv - v) <= 1e-12 * max(abs(v), 1.0)


def test_ewma_segmented_deterministic_across_runs(spark):
    """Same chunk width -> bit-identical results run-to-run (the
    hash-checkability contract; chunking depends on row content only,
    never on Spark partitioning)."""
    rng = random.Random(11)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(3), i, base + dt.timedelta(minutes=i), rng.random() * 100)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    a = _segmented(df.repartition(7), 3_600_000_000)
    b = _segmented(df.repartition(13), 3_600_000_000)
    assert a == b


def test_rollup_batch_split_invariance(spark, sf_dir, tmp_path):
    one = stream.maintain_hourly_rollup(
        spark, sf_dir, str(tmp_path / "w1"), n_arrival_files=1
    )
    five = stream.maintain_hourly_rollup(
        spark, sf_dir, str(tmp_path / "w5"), n_arrival_files=5
    )
    assert _rows_set(one) == _rows_set(five)
    batch = (
        catalog.load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("value_sum"),
        )
    )
    assert _rows_set(one) == _rows_set(batch)


def _cdc_changes(spark, sf_dir, version):
    return catalog.load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.lit(version).alias("version"),
        F.lit("IU"[version - 1]).alias("op"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") + F.lit(version - 1.0)).alias("totalprice"),
    )


@pytest.mark.parametrize("fold", ["rollup", "cdc"])
def test_rollup_ledger_makes_redelivery_idempotent(spark, sf_dir, tmp_path, fold):
    """Every fold store skips a batch id its ledger holds: required for
    the additive rollup, and pinned for the idempotent CDC fold by the
    store not being rewritten."""
    store = str(tmp_path / "store")
    if fold == "rollup":
        fold_fn, batch = stream.rollup_fold, catalog.load(spark, sf_dir, "events")
        new = batch
    else:
        fold_fn, batch, new = stream.cdc_fold, _cdc_changes(spark, sf_dir, 1), _cdc_changes(spark, sf_dir, 2)
    stream.fold_batch(store, fold_fn, batch, 0)
    once = _rows_set(spark.read.parquet(store))
    files = sorted(os.listdir(store))  # a rewrite writes new part-file names
    stream.fold_batch(store, fold_fn, batch, 0)  # at-least-once redelivery of the SAME batch id
    assert _rows_set(spark.read.parquet(store)) == once
    assert sorted(os.listdir(store)) == files
    stream.fold_batch(store, fold_fn, new, 1)  # a genuinely new batch still folds in
    after = spark.read.parquet(store)
    if fold == "rollup":
        assert _rows_set(after.select("hour", "event_type", (F.col("n") / 2).cast("bigint").alias("n"))) == {
            (h, t, n) for h, t, n, _ in once
        }
    else:
        assert _rows_set(after) == {(k, 2, "U", s, p + 1.0) for k, _, _, s, p in once}
    assert stream.read_ledger(store) == (1, set())


def test_rollup_ledger_compacts_to_watermark(spark, sf_dir, tmp_path):
    """The applied-batch ledger must stay O(1): in-order batches fold
    into a single watermark row, redelivery across the compaction
    boundary is still recognized, and out-of-order gaps hold stragglers
    until the gap closes."""
    store = str(tmp_path / "store")
    batch = catalog.load(spark, sf_dir, "events")
    merge = functools.partial(stream.fold_batch, store, stream.rollup_fold)

    for bid in (0, 1, 2):
        merge(batch, bid)
    assert stream.read_ledger(store) == (2, set())

    once = _rows_set(spark.read.parquet(store))
    for bid in (0, 1, 2):  # redelivery AFTER compaction erased the ids
        merge(batch, bid)
    assert _rows_set(spark.read.parquet(store)) == once
    assert stream.read_ledger(store) == (2, set())

    merge(batch, 4)  # gap: 3 missing -> 4 is a straggler, wm stays 2
    assert stream.read_ledger(store) == (2, {4})
    merge(batch, 4)  # straggler redelivery is also recognized
    assert stream.read_ledger(store) == (2, {4})
    merge(batch, 3)  # gap closes -> everything folds into the watermark
    assert stream.read_ledger(store) == (4, set())


def test_throttle_matches_python_fold(spark):
    """Keep-iff->=gap-after-last-KEPT is a sequential decision chain;
    the Spark fold must match a literal python replay, including burst
    re-arming (which distinguishes throttle from sessionization)."""
    rng = random.Random(31)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(4), i, base + dt.timedelta(minutes=rng.randrange(10_000)))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    gap_us = 3_600_000_000
    got = {
        r.user_id: (r.n_events, r.n_kept, r.kept_ts_sum)
        for r in windows.throttle_last(
            df, partition=["user_id"], ts="ts",
            min_gap_micros=gap_us, order_tiebreak=["event_id"],
        ).collect()
    }
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, eid, t in rows:
        by_user.setdefault(u, []).append((int(t.timestamp() * 1_000_000), eid))
    for u, seq in by_user.items():
        seq.sort()
        kept = [seq[0][0]]
        for t, _ in seq[1:]:
            if t >= kept[-1] + gap_us:
                kept.append(t)
        assert got[u] == (len(seq), len(kept), sum(kept))
        # non-vacuous: some events kept, some dropped
        assert 1 <= len(kept) < len(seq)


def test_binned_quantiles_error_bound_and_partition_invariance(spark):
    """The histogram quantile must land within one bin width of the
    true order statistic, and be bit-identical under any partitioning
    (mergeable-summary property)."""
    from nyc_taxi_data_prediction_pyspark_spark.operators import aggregates as agg

    rng = random.Random(5)
    vals = [rng.uniform(0, 10_000) for _ in range(5_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    w = 250.0
    got = {
        r.q: r.value_est
        for r in agg.binned_quantiles(
            df, "v", quantiles=[0.1, 0.5, 0.99], bin_width=w
        ).collect()
    }
    s = sorted(vals)
    for q, est in got.items():
        exact = s[int(q * (len(s) - 1))]
        assert abs(est - exact) <= w, (q, est, exact)
    again = {
        r.q: r.value_est
        for r in agg.binned_quantiles(
            df.repartition(17), "v", quantiles=[0.1, 0.5, 0.99], bin_width=w
        ).collect()
    }
    assert got == again  # bit-identical, not approximately equal


def test_interval_join_plans_as_hash_join(spark):
    from nyc_taxi_data_prediction_pyspark_spark.plans import explain as ex

    left = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 0), dt.datetime(2026, 1, 1, 5))],
        "lid int, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [(2, dt.datetime(2026, 1, 1, 2), dt.datetime(2026, 1, 1, 3))],
        "rid int, rs timestamp, re timestamp",
    )
    out = joins.interval_overlap_join(
        left, right,
        left_start="ls", left_end="le", right_start="rs", right_end="re",
        bin_micros=3_600_000_000,
    )
    # the whole point of the bin rewrite: the non-equi overlap plans as
    # an equi join on the bin, never a cartesian/nested loop
    assert not ex.has_cartesian(out)
    assert ex.has_broadcast_join(out) or ex.has_shuffle_join(out)


def test_bloom_semi_join_exact_even_with_false_positives(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators import bloom

    fact = spark.createDataFrame([(i,) for i in range(2_000)], "k long")
    keys = spark.createDataFrame([(i,) for i in range(0, 2_000, 37)], "k long")
    exact = {r.k for r in fact.join(keys, "k", "left_semi").collect()}
    # m_bits=64: one word, saturated — nearly every probe is a false
    # positive; the exact join must still strip them all
    tiny = bloom.bloom_semi_join(fact, keys, on=["k"], m_bits=64)
    assert {r.k for r in tiny.collect()} == exact
    # realistic bitmap: same answer, AND the prefilter actually prunes
    pruned = bloom.bloom_prefilter(
        fact, bloom.bloom_build(keys, "k"), "k"
    )
    assert {r.k for r in bloom.bloom_semi_join(fact, keys, on=["k"]).collect()} == exact
    n_pruned = pruned.count()
    assert len(exact) <= n_pruned < 2_000  # members always survive, most non-members drop


def test_bloom_prefilter_never_drops_members(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators import bloom

    keys = spark.createDataFrame([(i * 13,) for i in range(500)], "k long")
    b = bloom.bloom_build(keys, "k")
    survivors = {r.k for r in bloom.bloom_prefilter(keys, b, "k").collect()}
    assert survivors == {i * 13 for i in range(500)}  # zero false negatives, ever


def test_table_diff_classification(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators import setops

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, None)],
        "k long, v double, s string",
    )
    right = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 21.0, "b"), (3, None, "c"), (5, 50.0, "e")],
        "k long, v double, s string",
    )
    got = {r.k: r.change_type for r in setops.table_diff(left, right, ["k"], ["v", "s"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",  # NULL == NULL under eqNullSafe
        4: "removed",
        5: "added",
    }


def test_q140_short_history_clamps(spark, tmp_path):
    """Spark's negative-start slice does NOT clamp (slice(a,-5,5) is []
    for len<5) — q140 must use the clamped-start form so users with
    fewer than 5 events keep their whole history (DuckDB arr[-5:]
    semantics)."""
    import __spark_entry__ as entry

    base = dt.datetime(2026, 1, 1)
    rows = []
    for uid, n in [(1, 1), (2, 3), (3, 5), (4, 8)]:
        for i in range(n):
            rows.append((uid, uid * 100 + i, base + dt.timedelta(minutes=i), float(i + 1)))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.user_id: (r.n_events, [float(x) for x in r.last5_values.split(",")], r.last5_sum)
        for r in entry.q140_last_n_features(spark, str(tmp_path)).collect()
    }
    assert got[1] == (1, [1.0], 1.0)
    assert got[2] == (3, [1.0, 2.0, 3.0], 6.0)
    assert got[3] == (5, [1.0, 2.0, 3.0, 4.0, 5.0], 15.0)
    assert got[4] == (8, [4.0, 5.0, 6.0, 7.0, 8.0], 30.0)
    # serialized form: fixed-scale decimal rendering, identical on both
    # engines (the round-4 driver red was the raw array column)
    row = {r.user_id: r.last5_values for r in entry.q140_last_n_features(spark, str(tmp_path)).collect()}
    assert row[1] == "1.000000"
    assert row[2] == "1.000000,2.000000,3.000000"


@pytest.mark.parametrize("target", ["store", "warehouse"])
def test_swap_store_always_leaves_a_complete_copy(spark, tmp_path, monkeypatch, target):
    """The directory swap must never have a window where no complete
    copy exists on disk: rename-aside, not rmtree-then-rename.  A crash
    after the aside-rename (the swap-in rename fails) still leaves the
    old copy recoverable at target_old.  Both callers share the swap:
    the streaming fold store and ``Warehouse._swap_write``."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    path = str(tmp_path / "store") if target == "store" else wh.path("t")

    def write(df, batch_id):
        if target == "store":
            stream.fold_batch(path, stream.rollup_fold, df, batch_id)
        else:
            wh._swap_write("t", df)

    batch = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1, h), "click", 1.0) for h in range(3)],
        "ts timestamp, event_type string, value double",
    )
    write(batch, 0)
    first = _rows_set(spark.read.parquet(path))

    # crash simulation: the aside-rename happens, the swap-in does not
    rename = os.rename

    def crashing_rename(src, dst):
        if "_tmp_" in os.path.basename(src):
            raise OSError("simulated crash before the swap-in")
        rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crashing_rename)
        with pytest.raises(OSError, match="simulated crash"):
            write(batch, 1)
    assert _rows_set(spark.read.parquet(path + "_old")) == first

    # recovery (operator moves the old copy back), then a normal write
    # completes and cleans up any leftover _old dir
    os.rename(path + "_old", path)
    write(batch, 1)
    assert not os.path.exists(path + "_old")
    if target == "store":
        assert stream.read_ledger(path)[0] == 1  # the watermark
    else:
        assert _rows_set(wh.read("t")) == first


def _throttle_pair(spark, rows, gap_us, chunk_us, method="expr"):
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    fold = {
        r.user_id: (r.n_events, r.n_kept, r.kept_ts_sum)
        for r in windows.throttle_last(
            df, partition=["user_id"], ts="ts",
            min_gap_micros=gap_us, order_tiebreak=["event_id"],
        ).collect()
    }
    seg = {
        r.user_id: (r.n_events, r.n_kept, r.kept_ts_sum)
        for r in windows.throttle_last_segmented(
            df, partition=["user_id"], ts="ts",
            min_gap_micros=gap_us, chunk_micros=chunk_us, method=method,
        ).collect()
    }
    return fold, seg


@pytest.mark.parametrize("method", ["expr", "pandas"])
def test_throttle_segmented_matches_fold(spark, method):
    """The segmented compose must be EXACTLY equal to the sequential
    fold (integer µs arithmetic — no float tolerance), across chunk
    widths spanning smaller-than-gap to much-larger-than-gap, with
    keep chains crossing chunk boundaries — through BOTH chunk-table
    backends (JVM expression and numpy pointer-doubling)."""
    rng = random.Random(41)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(5), i, base + dt.timedelta(minutes=rng.randrange(20_000)))
        for i in range(800)
    ]
    gap_us = 6 * 3_600_000_000
    for chunk_us in (3_600_000_000, 6 * 3_600_000_000, 86_400_000_000, 7 * 86_400_000_000):
        fold, seg = _throttle_pair(spark, rows, gap_us, chunk_us, method)
        assert seg == fold, f"chunk_us={chunk_us}"
    # non-vacuous: multiple chunks in play at the day width
    assert any(n_kept < n for n, n_kept, _ in fold.values())


@pytest.mark.parametrize("method", ["expr", "pandas"])
def test_throttle_segmented_chunk_boundary_shift(spark, method):
    """Chains whose alignment is decided by cross-chunk state: events
    every gap/2 — the self-chain of a later chunk differs from the
    chain the incoming state selects, so a (first,last,count)-only
    summary would get this wrong.  Exercises the candidate-table
    selection path."""
    base = dt.datetime(2026, 1, 1)
    gap_us = 3_600_000_000  # 1h
    # user 1: events every 30 min for 50 h -> fold keeps every other one
    rows = [
        (1, i, base + dt.timedelta(minutes=30 * i)) for i in range(100)
    ]
    # user 2: a burst then silence crossing several chunk widths
    rows += [(2, 200 + i, base + dt.timedelta(seconds=10 * i)) for i in range(20)]
    rows += [(2, 300, base + dt.timedelta(hours=30))]
    for chunk_us in (1_800_000_000, 3_600_000_000, 4 * 3_600_000_000, 86_400_000_000):
        fold, seg = _throttle_pair(spark, rows, gap_us, chunk_us, method)
        assert seg == fold, f"chunk_us={chunk_us}"
    assert fold[1] == (100, 50, sum(
        int((base + dt.timedelta(minutes=60 * i)).timestamp() * 1_000_000)
        for i in range(50)
    ))


def test_throttle_segmented_partition_invariant(spark):
    """Chunking depends on row content only — the result is identical
    under any Spark partitioning (hash-checkability contract)."""
    rng = random.Random(43)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(3), i, base + dt.timedelta(minutes=rng.randrange(5_000)))
        for i in range(400)
    ]
    df7 = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp").repartition(7)
    df13 = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp").repartition(13)
    kw = dict(partition=["user_id"], ts="ts", min_gap_micros=3_600_000_000,
              chunk_micros=6 * 3_600_000_000)
    a = {tuple(r) for r in windows.throttle_last_segmented(df7, **kw).collect()}
    b = {tuple(r) for r in windows.throttle_last_segmented(df13, **kw).collect()}
    assert a == b


def test_holt_matches_python_fold(spark):
    rng = random.Random(22)
    base = dt.datetime(2026, 1, 1)
    rows = [
        (rng.randrange(6), i, base + dt.timedelta(seconds=i), rng.random() * 50 + i * 0.1)
        for i in range(400)
    ]
    # singleton + pair groups exercise the seed edge cases
    rows += [(90, 1000, base, 7.5), (91, 1001, base, 3.0), (91, 1002, base + dt.timedelta(seconds=1), 5.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    out = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_1)
        for r in windows.holt_level_trend(
            df, partition=["user_id"], ts="ts", value_col="value",
            alpha=0.5, beta=0.25, order_tiebreak=["event_id"],
        ).collect()
    }
    by_user: dict[int, list[tuple[int, float]]] = {}
    for u, eid, _ts, v in rows:
        by_user.setdefault(u, []).append((eid, v))
    for u, seq in by_user.items():
        vals = [v for _eid, v in sorted(seq)]
        l = vals[0]
        b = vals[1] - vals[0] if len(vals) >= 2 else 0.0
        for x in vals[1:]:
            nl = 0.5 * x + 0.5 * (l + b)
            b = 0.25 * (nl - l) + 0.75 * b
            l = nl
        n, gl, gb, gf = out[u]
        assert n == len(vals)
        assert gl == l and gb == b and gf == l + b  # bit-exact fold parity
    # singleton: level = the value, trend 0
    assert out[90] == (1, 7.5, 0.0, 7.5)


def test_cusum_matches_python_fold(spark):
    rng = random.Random(23)
    base = dt.datetime(2026, 1, 1)
    rows = []
    i = 0
    for u in range(4):
        # regime shift halfway: mean 10 then mean 30 → drift alarms
        for j in range(60):
            v = (10.0 if j < 30 else 30.0) + rng.random()
            rows.append((u, i, base + dt.timedelta(seconds=i), v))
            i += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    out = {
        r.user_id: (r.n_events, r.n_alarms, r.max_s_scaled, r.final_s_scaled)
        for r in windows.cusum_alarms(
            df, partition=["user_id"], ts="ts", value_col="value",
            scale=4, threshold=5.0, order_tiebreak=["event_id"],
        ).collect()
    }
    by_user: dict[int, list[tuple[int, float]]] = {}
    for u, eid, _ts, v in rows:
        by_user.setdefault(u, []).append((eid, v))
    for u, seq in by_user.items():
        vq = [round(v * 10000) for _eid, v in sorted(seq)]
        n, sq = len(vq), sum(vq)
        s = alarms = maxs = 0
        for x in vq:
            st = max(0, s + (n * x - sq))
            maxs = max(maxs, st)
            if st > 50000 * n:
                alarms += 1
                s = 0
            else:
                s = st
        assert out[u] == (n, alarms, maxs, s)
        assert alarms >= 1  # the regime shift must actually fire
