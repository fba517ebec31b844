"""Exact eval statistics (operators/evaluation.py): known-answer
cases cross-checked by hand, plus two-phase == single-window parity on
real testdata (the grouped_cumsum_two_phase correctness contract)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

from nyc_taxi_data_prediction_pyspark_spark.catalog import load
from nyc_taxi_data_prediction_pyspark_spark.operators import evaluation

SF = "/root/testdata/sf0.001"


def test_roc_auc_known_answer_with_ties(spark):
    # scores: pos at 3,4,4 ; neg at 1,2,4  ->  pairs = 9
    # pos3 beats neg1,neg2 (2); pos4 beats neg1,neg2 (2x2=4) and ties
    # neg4 (2 x 0.5 = 1)  =>  U = 7, AUC = 7/9
    rows = [
        Row(s=1.0, y=0),
        Row(s=2.0, y=0),
        Row(s=3.0, y=1),
        Row(s=4.0, y=1),
        Row(s=4.0, y=1),
        Row(s=4.0, y=0),
    ]
    df = spark.createDataFrame(rows)
    out = evaluation.roc_auc(df, score_col="s", label_col="y").collect()[0]
    assert (out.n_pos, out.n_neg) == (3, 3)
    assert out.auc_num2 == 14  # 2U
    assert out.auc == round(7 / 9, 6)


def test_roc_auc_perfect_and_inverted(spark):
    perfect = spark.createDataFrame(
        [Row(s=float(i), y=int(i >= 5)) for i in range(10)]
    )
    assert evaluation.roc_auc(perfect, score_col="s", label_col="y").collect()[0].auc == 1.0
    inverted = perfect.select("s", (1 - F.col("y")).alias("y"))
    assert evaluation.roc_auc(inverted, score_col="s", label_col="y").collect()[0].auc == 0.0


def test_roc_auc_two_phase_parity(spark):
    ev = load(spark, SF, "events").select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("y")
    )
    a = evaluation.roc_auc(ev, score_col="value", label_col="y", two_phase=True)
    b = evaluation.roc_auc(ev, score_col="value", label_col="y", two_phase=False)
    assert a.collect() == b.collect()


def test_ks_known_answer(spark):
    # A = {1,2,3}, B = {4,5,6}: disjoint supports -> D = 1 at v = 3
    rows = [Row(v=float(i), a=(i <= 3)) for i in range(1, 7)]
    out = evaluation.ks_two_sample(
        spark.createDataFrame(rows), value_col="v", sample_col="a"
    ).collect()[0]
    assert (out.n_a, out.n_b) == (3, 3)
    assert out.ks_d == 1.0 and out.ks_at == 3.0


def test_ks_identical_samples_is_zero(spark):
    # same multiset in both samples -> every ECDF gap is 0
    rows = [Row(v=float(v), a=bool(t)) for v in (1, 2, 2, 5) for t in (0, 1)]
    out = evaluation.ks_two_sample(
        spark.createDataFrame(rows), value_col="v", sample_col="a"
    ).collect()[0]
    assert out.d_scaled == 0 and out.ks_d == 0.0


def test_ks_two_phase_parity(spark):
    ev = load(spark, SF, "events").select(
        "value", (F.col("event_type") == "purchase").alias("a")
    )
    a = evaluation.ks_two_sample(ev, value_col="value", sample_col="a", two_phase=True)
    b = evaluation.ks_two_sample(ev, value_col="value", sample_col="a", two_phase=False)
    assert a.collect() == b.collect()


def test_calibration_perfectly_calibrated_bin(spark):
    # one bin [0.4, 0.5): p = 0.45 everywhere, 9 pos / 11 neg is NOT
    # 0.45 -> gap = 0.45 - 0.45 exactly when 9/20 = 0.45: use 20 rows
    rows = [Row(p=0.45, y=int(i < 9)) for i in range(20)]
    out = evaluation.calibration_report(
        spark.createDataFrame(rows), prob_col="p", label_col="y", bins=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.bin == 4 and r.n == 20 and r.n_pos == 9
    assert r.mean_pred == 0.45 and r.frac_pos == 0.45 and r.gap == 0.0
    # Brier for p=.45: 9*(.55)^2 + 11*(.45)^2 over 20
    assert r.brier == round((9 * 0.55**2 + 11 * 0.45**2) / 20, 6)
    assert r.ece == 0.0


def test_calibration_p_one_lands_in_last_bin(spark):
    rows = [Row(p=1.0, y=1), Row(p=0.0, y=0)]
    out = evaluation.calibration_report(
        spark.createDataFrame(rows), prob_col="p", label_col="y", bins=10
    ).collect()
    assert [r.bin for r in out] == [0, 9]
    assert all(r.brier == 0.0 for r in out)


def test_gini_uniform_is_zero_and_extreme_is_high(spark):
    uniform = spark.createDataFrame([Row(g="u", x=100, k=i) for i in range(10)])
    out = evaluation.gini_lorenz(
        uniform, group_keys=["g"], value_col=F.col("x"), tiebreak_col="k"
    ).collect()
    assert all(r.gini == 0.0 for r in out)
    # one holder owns everything except epsilon: G -> (n-1)/n * (1 - eps-ish)
    extreme = spark.createDataFrame(
        [Row(g="e", x=0, k=i) for i in range(9)] + [Row(g="e", x=1000, k=9)]
    )
    out = evaluation.gini_lorenz(
        extreme, group_keys=["g"], value_col=F.col("x"), tiebreak_col="k"
    ).collect()
    assert all(r.gini == 0.9 for r in out)  # exactly (n-1)/n with all mass on one
    # Lorenz: cumulative share is 0 through decile 9, 1.0 at decile 10
    shares = {r.decile: r.cum_share for r in out}
    assert shares[9] == 0.0 and shares[10] == 1.0


def test_gini_two_phase_parity(spark):
    o = load(spark, SF, "orders").select(
        F.col("o_orderpriority").alias("g"), "o_totalprice", "o_orderkey"
    )
    kw = dict(
        group_keys=["g"],
        value_col=F.col("o_totalprice").cast("decimal(18,2)") * 100,
        tiebreak_col="o_orderkey",
    )
    a = evaluation.gini_lorenz(o, two_phase=True, **kw)
    b = evaluation.gini_lorenz(o, two_phase=False, **kw)
    assert a.collect() == b.collect()


def test_grouped_cumsum_two_phase_parity_grouped(spark):
    """The shared prefix-sum engine: per-group running sums must be
    bit-identical between the range-exchange form and the plain
    window, inclusive AND exclusive."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        grouped_cumsum_two_phase,
    )

    ev = (
        load(spark, SF, "events")
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    for excl in (False, True):
        a = grouped_cumsum_two_phase(
            ev, ["event_type"], ["value"], ["c"], exclusive=excl, two_phase=True
        )
        b = grouped_cumsum_two_phase(
            ev, ["event_type"], ["value"], ["c"], exclusive=excl, two_phase=False
        )
        key = lambda r: (r.event_type, r.value)  # noqa: E731
        assert sorted(a.collect(), key=key) == sorted(b.collect(), key=key)


# ------------------------------------------------------- seasonal_decompose


def test_seasonal_decompose_flat_series_zero_seasonality(spark):
    """A constant series has zero seasonal indices and zero residuals
    wherever the trend is defined."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        seasonal_decompose,
    )

    rows = [Row(g="a", i=i, slot=i % 24, c=7) for i in range(96)]
    out = seasonal_decompose(
        spark.createDataFrame(rows),
        group_cols=["g"],
        order_col="i",
        hod_col="slot",
        value_col="c",
        period=24,
    ).collect()
    assert len(out) == 24
    assert all(r.s_index == 0.0 and r.max_abs_resid == 0.0 for r in out)
    # 96 hours, trend defined on rows 12..83 inclusive = 72 rows = 3/slot
    assert all(r.n_obs == 3 for r in out)


def test_seasonal_decompose_recovers_pure_seasonal_pattern(spark):
    """x = 10 + (5 if slot==0 else 0): slot 0's index must exceed the
    others and indices must sum to ~0 (centered)."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        seasonal_decompose,
    )

    rows = [
        Row(g="a", i=i, slot=i % 24, c=10 + (120 if i % 24 == 0 else 0))
        for i in range(24 * 6)
    ]
    out = seasonal_decompose(
        spark.createDataFrame(rows),
        group_cols=["g"],
        order_col="i",
        hod_col="slot",
        value_col="c",
        period=24,
    ).collect()
    by_slot = {r.slot: r.s_index for r in out}
    assert by_slot[0] == max(by_slot.values())
    assert by_slot[0] > 100  # ~115 = 120 - 5 (the mean uplift)
    assert abs(sum(by_slot.values())) < 1e-6  # centered


# --------------------------------------------------------- phrase_search


def test_phrase_search_counts_overlaps_and_misses(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a"),
            Row(doc_id=2, text="b b b"),
            Row(doc_id=3, text="c c"),
        ]
    )
    out = {r.phrase: r for r in phrase_search(docs, ["a b", "b b", "z q"]).collect()}
    assert out["a b"].n_matches == 2 and out["a b"].n_docs == 1
    assert out["a b"].first_doc_id == 1 and out["a b"].first_pos == 0
    # overlapping occurrences both count: "b b b" has starts 0 and 1
    assert out["b b"].n_matches == 2 and out["b b"].n_docs == 1
    assert out["z q"].n_matches == 0 and out["z q"].first_doc_id is None


def test_phrase_search_repeated_token_phrase_needs_all_offsets(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x x y x x x")]  # "x x x" only at start 3
    )
    out = phrase_search(docs, ["x x x"]).collect()[0]
    assert out.n_matches == 1 and out.first_pos == 3


# --------------------------------------------------------- mutual_nn_pairs


def test_mutual_nn_pairs_two_clusters(spark):
    """Two tight pairs + one singleton-bucket vector: exactly the two
    mutual pairs come back, the singleton matches nothing."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.similarity import (
        mutual_nn_pairs,
    )

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.14, 0.0]),
        Row(vec_id=3, embedding=[0.01, 1.0, 0.0]),
        Row(vec_id=4, embedding=[0.02, 0.99, 0.0]),
        Row(vec_id=5, embedding=[-1.0, -1.0, -1.0]),  # own bucket
    ]
    # one explicit plane: bucket = sign(x + 2y + 0z-ish) keeps 1-4
    # together and isolates 5
    planes = [[1.0, 2.0, 0.5]]
    out = mutual_nn_pairs(spark.createDataFrame(rows), planes).collect()
    got = {(r.vec_id_a, r.vec_id_b) for r in out}
    assert got == {(1, 2), (3, 4)}


def test_mutual_nn_pairs_tie_breaks_to_smallest_id(spark):
    """Three identical vectors: best(1) = 2 (smallest id among cos=1
    ties), best(2) = 1, best(3) = 1 -> only (1,2) is mutual."""
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.similarity import (
        mutual_nn_pairs,
    )

    rows = [Row(vec_id=i, embedding=[1.0, 1.0]) for i in (1, 2, 3)]
    out = mutual_nn_pairs(spark.createDataFrame(rows), [[1.0, 1.0]]).collect()
    assert {(r.vec_id_a, r.vec_id_b) for r in out} == {(1, 2)}
    assert all(r.cos == 1.0 for r in out)


def test_nn_width_rule_and_plane_prefix():
    """q269's two cross-engine assumptions, proven independently:
    (a) the width rule matches its SQL mirror GREATEST(1, LEAST(16,
    CEIL(LOG2(n/32.0)))) on every n the oracle can see, and (b)
    numpy's row-major standard_normal makes a width-k plane draw an
    exact PREFIX of the width-16 bank at the same seed — the property
    that lets the oracle bake ONE 16-plane bank and fold the first k
    bits."""
    import numpy as np
    import duckdb

    from __spark_entry__ import _nn_width_rule
    from nyc_taxi_data_prediction_pyspark_spark.operators.similarity import (
        random_hyperplanes,
    )

    con = duckdb.connect()
    for n in [1, 2, 31, 32, 33, 64, 500, 2000, 2048, 20000, 10**7, 10**12]:
        sql_k = con.execute(
            "SELECT GREATEST(1, LEAST(16, CAST(CEIL(LOG2(CAST(? AS DOUBLE)"
            " / 32.0)) AS INT)))",
            [n],
        ).fetchone()[0]
        assert _nn_width_rule(n) == sql_k, (n, _nn_width_rule(n), sql_k)

    bank = np.asarray(random_hyperplanes(64, 16, seed=42))
    for k in (1, 4, 6, 10):
        assert np.array_equal(
            np.asarray(random_hyperplanes(64, k, seed=42)), bank[:k]
        )


# ----------------------------------------------------------- bandit_replay


def test_bandit_replay_hand_traced_sequence(spark):
    """5-step trace, arms {A,B}: unseen-first, then mean argmax, ties
    alphabetical. Policy picks A,B,A,A,A; matches steps 1,2,3,5."""
    import datetime

    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.mining import bandit_replay

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    seq = [("A", 1), ("B", 0), ("A", 0), ("B", 1), ("A", 1)]
    rows = [
        Row(ts=t0 + datetime.timedelta(minutes=i), event_id=i, event_type=a, reward=r)
        for i, (a, r) in enumerate(seq)
    ]
    out = {r.arm: r for r in bandit_replay(spark.createDataFrame(rows), ["A", "B"]).collect()}
    a, b = out["A"], out["B"]
    assert (a.n_log, a.n_policy, a.n_matched, a.matched_reward) == (3, 4, 3, 2)
    assert a.replay_value == 2 / 3
    assert (b.n_log, b.n_policy, b.n_matched, b.matched_reward) == (2, 1, 1, 0)
    assert b.replay_value == 0.0


def test_bandit_replay_state_resets_per_day(spark):
    """Day 2 starts blind: its first step must pick the alphabetical
    unseen arm again even though day 1 ended with a clear winner."""
    import datetime

    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.mining import bandit_replay

    d1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    d2 = datetime.datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        Row(ts=d1, event_id=1, event_type="B", reward=1),
        Row(ts=d1 + datetime.timedelta(minutes=1), event_id=2, event_type="B", reward=1),
        # day 2, logged arm A: a carried-over policy would pick B
        # (mean 1.0); a reset policy picks A (unseen-first, alpha)
        Row(ts=d2, event_id=3, event_type="A", reward=1),
    ]
    out = {r.arm: r for r in bandit_replay(spark.createDataFrame(rows), ["A", "B"]).collect()}
    assert out["A"].n_matched == 1  # reset -> picked A on day 2


# -------------------------------------------------------------- spearman_rho


def test_spearman_perfect_and_inverse_monotone(spark):
    rows = [Row(g="a", x=float(i), y=float(i * i)) for i in range(1, 9)]
    out = evaluation.spearman_rho(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert out.spearman_rho == 1.0
    rows = [Row(g="a", x=float(i), y=float(-i)) for i in range(1, 9)]
    out = evaluation.spearman_rho(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert out.spearman_rho == -1.0


def test_spearman_matches_bruteforce_midranks(spark):
    """Tie-heavy fixture cross-checked against a plain-Python midrank
    Pearson — the textbook definition."""
    import math

    xs = [1, 2, 2, 3, 3, 3, 4, 5, 5, 1]
    ys = [2, 1, 3, 3, 5, 4, 4, 5, 5, 2]

    def midranks(vals):
        out = [0.0] * len(vals)
        for i, v in enumerate(vals):
            below = sum(1 for u in vals if u < v)
            tied = sum(1 for u in vals if u == v)
            out[i] = below + (tied + 1) / 2
        return out

    rx, ry = midranks(xs), midranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)) * math.sqrt(
        sum((b - my) ** 2 for b in ry)
    )
    expected = round(num / den, 6)

    rows = [Row(g="a", x=float(x), y=float(y)) for x, y in zip(xs, ys)]
    out = evaluation.spearman_rho(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert abs(out.spearman_rho - expected) < 2e-6


def test_spearman_two_phase_parity(spark):
    li = load(spark, SF, "lineitem")
    kw = dict(x_col="l_quantity", y_col="l_extendedprice", group_keys=["l_returnflag"])
    a = evaluation.spearman_rho(li, two_phase=True, **kw)
    b = evaluation.spearman_rho(li, two_phase=False, **kw)
    assert a.collect() == b.collect()


# ----------------------------------------------------------- cross_corr_lags


def test_cross_corr_finds_planted_lag(spark):
    """y is x shifted forward by 3 steps: rho(3) = 1, best_lag = 3."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        cross_corr_lags,
    )

    xs = [5, 1, 9, 2, 7, 3, 8, 4, 6, 1, 9, 2, 7, 5, 3, 8]
    rows = [
        Row(i=i, x=x, y=(xs[i - 3] if i >= 3 else 0)) for i, x in enumerate(xs)
    ]
    out = cross_corr_lags(
        spark.createDataFrame(rows), order_col="i", x_col="x", y_col="y", max_lag=5
    ).collect()
    by_lag = {r.lag: r for r in out}
    assert by_lag[3].rho == 1.0
    assert all(r.best_lag == 3 for r in out)
    assert by_lag[0].n_overlap == len(xs) and by_lag[5].n_overlap == len(xs) - 5


# ---------------------------------------------------------------- haar_energy


def test_haar_alternating_series_all_energy_at_level_one(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import haar_energy

    rows = [Row(idx=i, c=(10 if i % 2 == 0 else 0)) for i in range(64)]
    out = haar_energy(
        spark.createDataFrame(rows), index_col="idx", value_col="c", levels=4
    ).collect()
    by = {r.level: r for r in out}
    assert by[1].energy_share == 1.0
    assert all(by[l].energy_share == 0.0 for l in (2, 3, 4))
    assert by[1].n_pairs == 32 and by[4].n_pairs == 4


def test_haar_constant_series_zero_detail_everywhere(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import haar_energy

    rows = [Row(idx=i, c=7) for i in range(32)]
    out = haar_energy(
        spark.createDataFrame(rows), index_col="idx", value_col="c", levels=3
    ).collect()
    assert all(r.detail_energy == 0.0 for r in out)
    assert all(r.energy_share is None for r in out)  # 0/0 total


# -------------------------------------------------------- isotonic_calibration


def test_isotonic_matches_bruteforce_pav(spark):
    """The minimax identity must equal the sequential pool-adjacent-
    violators merge on a violation-heavy fixture."""
    data = [(0, 4, 1), (1, 5, 3), (2, 3, 1), (3, 6, 5), (4, 2, 2), (5, 4, 1)]
    rows = []
    for b, w, sy in data:
        p = (b + 0.5) / 6
        rows += [Row(p=p, y=1 if i < sy else 0) for i in range(w)]
    out = evaluation.isotonic_calibration(
        spark.createDataFrame(rows), prob_col="p", label_col="y", bins=6
    ).collect()

    # reference PAV (stack merge, exact rational compare)
    blocks: list[list[int]] = []
    for _, w, sy in data:
        blocks.append([sy, w])
        while len(blocks) > 1 and blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]:
            s2, w2 = blocks.pop()
            blocks[-1][0] += s2
            blocks[-1][1] += w2
    expected = []
    i = 0
    for s, wt in blocks:
        acc = 0
        while acc < wt:
            acc += data[i][1]
            expected.append(round(s / wt, 6))
            i += 1
    assert [r.iso_rate for r in out] == expected
    # monotone non-decreasing by construction
    fits = [r.iso_rate for r in out]
    assert fits == sorted(fits)


def test_isotonic_already_monotone_is_identity(spark):
    rows = []
    for b, rate in [(0, 0.0), (1, 0.25), (2, 0.5), (3, 1.0)]:
        p = (b + 0.5) / 4
        rows += [Row(p=p, y=1 if i < int(rate * 4) else 0) for i in range(4)]
    out = evaluation.isotonic_calibration(
        spark.createDataFrame(rows), prob_col="p", label_col="y", bins=4
    ).collect()
    assert all(r.iso_rate == r.raw_rate for r in out)


# ----------------------------------------------------------------- woe_iv


def test_woe_iv_uninformative_feature_is_zero(spark):
    """Equal pos/neg in every bucket -> every WOE = 0, IV = 0."""
    rows = []
    for b in range(4):
        v = float(b)  # 4 distinct values -> cuts split them apart
        rows += [Row(value=v, y=1), Row(value=v, y=0)]
    out = evaluation.woe_iv(
        spark.createDataFrame(rows), value_col="value", label_col="y", n_buckets=4
    ).collect()
    assert all(r.woe == 0.0 and r.iv == 0.0 for r in out)


def test_woe_iv_separating_feature_signs_and_monotone_iv(spark):
    """Positives live in high values: WOE negative in low buckets,
    positive in high ones; IV comfortably above the 0.3 'strong' bar."""
    rows = [Row(value=float(i), y=int(i >= 50)) for i in range(100)]
    out = evaluation.woe_iv(
        spark.createDataFrame(rows), value_col="value", label_col="y", n_buckets=10
    ).collect()
    by = {r.bucket: r for r in out}
    assert by[1].woe < 0 < by[10].woe
    assert all(r.iv == out[0].iv for r in out)
    assert out[0].iv > 0.3


def test_woe_iv_round6_digits_sit_off_the_half_boundary():
    """Hostile-environment guard for the round-10 driver failure class:
    q240's ln-derived columns are DECIMAL(28,12)-quantized before
    round-6, but a quantized value landing within ~1e-9 of a .5e-6
    rounding boundary would still let a cross-engine ulp (or a
    different DuckDB decimal-cast build) flip the 6th digit.  Assert —
    on the real testdata at BOTH driver SFs, straight from the oracle's
    pre-round CTE so no Spark session is needed — that every woe /
    iv_term / iv value sits at least 1e-9 away from its nearest
    boundary.  If data regeneration ever lands a value on a boundary,
    this fails loudly instead of the driver hash flipping silently."""
    import duckdb

    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["q240_woe_iv"]
    head, _tail = sql.rsplit("SELECT bucket", 1)
    raw = head + (
        "SELECT CAST(woe AS DOUBLE) AS woe, CAST(term AS DOUBLE) AS t,"
        " CAST(SUM(term) OVER () AS DOUBLE) AS iv FROM scored"
    )
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        rows = con.execute(raw).fetchall()
        assert rows, sf
        for row in rows:
            for v in row:
                frac = (abs(v) * 1e6) % 1.0
                # 1e-3 in frac units == 1e-9 in value units
                assert abs(frac - 0.5) > 1e-3, (sf, v, frac)


def test_round6_quantized_ln_outputs_sit_off_half_boundaries():
    """Round-11 ADVICE generalization of the q240 boundary guard: the
    residual risk of the quantize+round-6 discipline — a DECIMAL(28,12)
    value landing within ~1e-9 of a .5e-6 rounding boundary, where a
    different DuckDB/JVM build's 1-ulp ln could still flip the 6th
    digit — applies to EVERY quantized-ln round-6 output, not just
    q240's.  Check the widest surfaces: q49's price_ln/disc_sq (one
    row per lineitem — the largest row count by far), q275's js and
    q282's z.

    Threshold derivation (exact, not a vibe): the round-6 input is
    the DECIMAL(28,12)-quantized value, whose distance to the .5e-6
    boundary is a multiple of 1e-12.  A 1-ulp ln drift (~1.8e-15 at
    these magnitudes) can move the quantized value at most ONE 1e-12
    grid step, so the 6th digit can only flip when the RAW value lies
    within 1.5e-12 of a boundary (quantized offset <= 1 step, landing
    on or across the half-up tie).  Flag that band — ~850 ulp of
    margin — and nothing wider: on a 600k-row per-row surface any
    fixed "comfort" window (the old 1e-9) flags ~120 benign values
    that are thousands of ulp from danger (measured: the closest real
    value sits 1.66e-12 away — outside the hazard band, inside any
    cosmetic one).  Probes are surgically rebuilt from the REAL
    oracle SQL (so oracle edits keep them honest) and the check runs
    inside DuckDB (600k-row surfaces stay cheap).  If data
    regeneration ever lands a value in the hazard band this fails
    loudly instead of a driver hash flipping across DuckDB builds."""
    import duckdb

    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()

    # q49: standalone probe; pin the oracle spelling so drift is caught
    q49 = oracles["q49_math_funcs"]
    assert "CAST(CAST(ln(l_extendedprice) AS DECIMAL(28,12)) AS DOUBLE)" in q49
    assert "CAST(CAST(pow(l_discount, 2) AS DECIMAL(28,12)) AS DOUBLE)" in q49
    probes = {
        "q49.price_ln": (
            "SELECT CAST(CAST(ln(l_extendedprice) AS DECIMAL(28,12)) AS DOUBLE)"
            " AS v FROM lineitem"
        ),
        "q49.disc_sq": (
            "SELECT CAST(CAST(pow(l_discount, 2) AS DECIMAL(28,12)) AS DOUBLE)"
            " AS v FROM lineitem"
        ),
    }
    # q275 / q282: rebuild the pre-round final select on the oracle's
    # own CTE chain
    head275, _ = oracles["q275_js_divergence"].rsplit("SELECT s AS source", 1)
    probes["q275.js"] = head275 + (
        "SELECT CAST(CAST(CASE WHEN tv > ts THEN CAST(jsp AS DOUBLE)"
        " + 0.5 * ln(2.0) * (1.0 - CAST(qpres AS DOUBLE)) END"
        " AS DECIMAL(28,12)) AS DOUBLE) AS v FROM per"
    )
    head282, _ = oracles["q282_fightin_words"].rsplit(
        "SELECT source, CAST(rank AS INT)", 1
    )
    probes["q282.z"] = head282 + (
        "SELECT CAST(CAST(z AS DECIMAL(28,12)) AS DOUBLE) AS v"
        " FROM r WHERE rank <= 8"
    )
    # q311 (round 13): hill_h / hill_alpha are quantized-ln round-6
    # outputs of the same class — probe the pre-round aggregates on
    # the oracle's own CTE chain
    head311, _ = oracles["q311_hill_tail_index"].rsplit(
        "SELECT CAST(COUNT(*) AS BIGINT) AS k", 1
    )
    probes["q311.h_alpha"] = head311 + (
        "SELECT CAST(CAST(SUM(tm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
        " AS DOUBLE) AS v FROM terms"
        " UNION ALL "
        "SELECT CAST(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tm) AS DOUBLE)"
        " AS DOUBLE) AS v FROM terms"
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        for t in ("lineitem", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )
        for name, probe in probes.items():
            # 1.5e-6 in frac units == 1.5e-12 in value units: the
            # one-quantization-step hazard band derived above
            n_rows, n_bad = con.execute(
                f"SELECT COUNT(*),"
                f" COUNT(*) FILTER (WHERE v IS NOT NULL AND"
                f" ABS((ABS(v) * 1e6) % 1.0 - 0.5) <= 1.5e-6)"
                f" FROM ({probe})"
            ).fetchone()
            assert n_rows > 0, (sf, name)
            assert n_bad == 0, (
                f"{sf} {name}: {n_bad} raw ln values within 1.5e-12 of a"
                f" .5e-6 rounding boundary — a 1-ulp cross-build drift can"
                f" flip the quantized 12th digit onto the round-6 tie"
            )
        con.close()


def test_woe_iv_buckets_are_rank_exact_on_tied_cuts(spark):
    """The round-11 driver red: rows tied EXACTLY on a decile cut flip
    buckets when the cut is an interpolated float that drifts 1 ulp
    between engines.  With discrete rank-selected cuts the cut IS the
    tied data value and every tied row lands strictly below (v > cut
    false).  Build a distribution with heavy ties on every cut and
    assert the bucket counts match the integer-rank ground truth."""
    rows = []
    # 40 rows: values 1..4, 10 copies each -> quartile cuts must be
    # exactly (1.0, 2.0, 3.0) and every copy of a cut value stays in
    # its own bucket (10/10/10/10), never split by the tie.
    for v in (1.0, 2.0, 3.0, 4.0):
        rows += [Row(value=v, y=int(v >= 3.0))] * 10
    out = evaluation.woe_iv(
        spark.createDataFrame(rows), value_col="value", label_col="y", n_buckets=4
    ).collect()
    counts = {r.bucket: (r.n_pos + r.n_neg) for r in out}
    assert counts == {1: 10, 2: 10, 3: 10, 4: 10}


def test_discrete_quantile_cuts_are_data_values_and_rank_correct(spark):
    """aggregates.discrete_quantile_cuts picks min v with
    cum*den >= num*n — pure integer rank arithmetic.  On 1..10 the
    quartile cuts are the rank-ceil(n*k/4) order statistics (3, 5, 8),
    all actual data values; duplicates in fracs are kept."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        discrete_quantile_cuts,
    )

    df = spark.createDataFrame([Row(g="a", v=float(i)) for i in range(1, 11)])
    out = discrete_quantile_cuts(
        df, value_col="v", group_keys=["g"], fracs=[(1, 4), (2, 4), (3, 4)]
    ).collect()
    assert len(out) == 1 and out[0].g == "a"
    # ceil(10/4)=3 -> 3.0; ceil(20/4)=5 -> 5.0; ceil(30/4)=8 -> 8.0
    assert out[0]["__cuts"] == [3.0, 5.0, 8.0]


def test_oracle_cut_values_are_exact_data_members_all_sfs():
    """Round-12 guard for the q240/q224/q168 fix: the oracle-side
    decile cuts / medians must be EXACT members of the source value
    set (discrete order statistics, never synthesized floats) at all
    three driver SFs — the property that makes the bucket fold
    engine-exact.  DuckDB-only, no Spark session needed; the strict
    oracle sweep proves the Spark side computes the same cuts."""
    import duckdb

    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

    probes = {
        # (cut-extraction SQL, membership SQL) pairs built from the
        # same CTE shapes the oracles use
        "q240": (
            """
WITH vals AS (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
hist AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM hist_src GROUP BY v),
cumh AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS cc, CAST(SUM(c) OVER () AS BIGINT) AS nn
         FROM hist)
SELECT k, MIN(v) AS cut
FROM cumh CROSS JOIN (SELECT CAST(UNNEST(range(1, 10)) AS BIGINT) AS k) ks
WHERE cc * 10 >= k * nn GROUP BY 1
""",
            "SELECT COUNT(*) FROM events WHERE CAST(value AS DOUBLE) = ?",
        ),
    }
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
        sql, member = probes["q240"]
        sql = sql.replace(
            "hist_src", "(SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL)"
        )
        cuts = con.execute(sql).fetchall()
        assert len(cuts) == 9, (sf, cuts)
        for _k, cut in cuts:
            n = con.execute(member, [cut]).fetchone()[0]
            assert n > 0, f"{sf}: cut {cut!r} is not an exact data value"
        # q168: both discrete medians are data(-derived) values
        med = con.execute(
            """
WITH pcum AS (
  SELECT l_returnflag, v,
         CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
         CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS nn
  FROM (SELECT l_returnflag, l_extendedprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2)
)
SELECT l_returnflag, MIN(v) AS med FROM pcum WHERE cc * 2 >= nn GROUP BY 1
"""
        ).fetchall()
        assert med, sf
        for flag, m in med:
            n = con.execute(
                "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = ? AND l_extendedprice = ?",
                [flag, m],
            ).fetchone()[0]
            assert n > 0, f"{sf}: {flag} median {m!r} is not an exact data value"
        con.close()


# ----------------------------------------------- deletion_neighborhood_pairs


def test_deletion_neighborhood_complete_for_lev1(spark):
    """Substitution, deletion, and insertion neighbors are all found;
    distance-2 strings are not."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    rows = [
        Row(id=1, nm="abc"),
        Row(id=2, nm="abd"),   # substitution of 1
        Row(id=3, nm="abcd"),  # insertion into 1
        Row(id=4, nm="ab"),    # deletion of 1
        Row(id=5, nm="xyz"),   # far from everything
        Row(id=6, nm="azd"),   # distance 2 from 1, distance 1 from 2
    ]
    out = deletion_neighborhood_pairs(
        spark.createDataFrame(rows), id_col="id", name_col="nm"
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert {(1, 2), (1, 3), (1, 4), (2, 6)} <= got
    assert all((5 not in p) for p in got)
    assert (1, 6) not in got  # lev("abc","azd") = 2
    # everything reported really is within distance 1
    assert all(
        sum(a != b for a, b in zip(r.name_a, r.name_b))
        + abs(len(r.name_a) - len(r.name_b))
        <= 1
        or abs(len(r.name_a) - len(r.name_b)) == 1
        for r in out
    )


def test_grouped_moments_match_bruteforce(spark):
    vals = [1.5, 2.0, 2.0, 3.25, 7.0, 7.0, 9.5, 10.0, 0.25, 4.0]
    rows = [Row(g="a", v=v) for v in vals]
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        grouped_moments,
    )

    r = grouped_moments(
        spark.createDataFrame(rows), group_keys=["g"], value_col="v"
    ).collect()[0]
    import math

    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals) / n
    m3 = sum((v - mean) ** 3 for v in vals) / n
    m4 = sum((v - mean) ** 4 for v in vals) / n
    assert abs(r.mean - round(mean, 6)) < 1e-9
    assert abs(r.variance - m2) < 1e-6
    assert abs(r.skewness - m3 / (m2 * math.sqrt(m2))) < 1e-5
    assert abs(r.kurtosis_excess - (m4 / m2**2 - 3)) < 1e-5


def test_grouped_moments_symmetric_data_zero_skew(spark):
    rows = [Row(g="s", v=float(v)) for v in (1, 3, 5, 7, 9, 1, 3, 5, 7, 9)]
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        grouped_moments,
    )

    r = grouped_moments(
        spark.createDataFrame(rows), group_keys=["g"], value_col="v"
    ).collect()[0]
    assert r.skewness == 0.0


# -------------------------------------------------------------- kendall_tau_b


def test_kendall_matches_bruteforce_pairs(spark):
    """Tie-heavy fixture cross-checked against the O(n^2) pair
    definition of tau-b."""
    import math

    xs = [1, 2, 2, 3, 3, 3, 4, 1, 2, 4]
    ys = [1, 1, 2, 2, 3, 1, 3, 2, 3, 3]
    n = len(xs)
    C = D = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = xs[i] - xs[j], ys[i] - ys[j]
            if dx == 0 and dy == 0:
                tx += 1
                ty += 1
            elif dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif dx * dy > 0:
                C += 1
            else:
                D += 1
    n0 = n * (n - 1) / 2
    expected = round((C - D) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty)), 6)

    rows = [Row(g="a", x=x, y=y) for x, y in zip(xs, ys)]
    out = evaluation.kendall_tau_b(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert out.concordant == C and out.discordant == D
    assert abs(out.tau_b - expected) < 2e-6


def test_kendall_perfect_orders(spark):
    rows = [Row(g="a", x=i, y=i * 2) for i in range(10)]
    out = evaluation.kendall_tau_b(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert out.tau_b == 1.0
    rows = [Row(g="a", x=i, y=-i) for i in range(10)]
    out = evaluation.kendall_tau_b(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert out.tau_b == -1.0


# ------------------------------------------------------ hypothesis properties

from hypothesis import HealthCheck, given, settings, strategies as st


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.booleans()), min_size=3, max_size=40
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
def test_roc_auc_equals_bruteforce_pair_count(spark, data):
    """AUC must equal the pairwise win-rate (ties half-credit) on
    arbitrary tie-heavy inputs — the Mann-Whitney definition."""
    pos = [s for s, y in data if y]
    neg = [s for s, y in data if not y]
    num2 = 0
    for a in pos:
        for b in neg:
            num2 += 2 if a > b else (1 if a == b else 0)
    rows = [Row(s=float(s), y=int(y)) for s, y in data]
    out = evaluation.roc_auc(
        spark.createDataFrame(rows), score_col="s", label_col="y"
    ).collect()[0]
    assert out.auc_num2 == num2
    assert out.auc == round(num2 / (2 * len(pos) * len(neg)), 6)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(-5, 5), st.booleans()), min_size=2, max_size=40
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
def test_ks_equals_bruteforce_ecdf_gap(spark, data):
    a = sorted(v for v, t in data if t)
    b = sorted(v for v, t in data if not t)
    vals = sorted(set(v for v, _ in data))
    best = 0
    for v in vals:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        best = max(best, abs(ca * len(b) - cb * len(a)))
    rows = [Row(v=float(v), t=bool(t)) for v, t in data]
    out = evaluation.ks_two_sample(
        spark.createDataFrame(rows), value_col="v", sample_col="t"
    ).collect()[0]
    assert out.d_scaled == best


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)), min_size=2, max_size=40
    )
)
def test_kendall_tau_equals_bruteforce_pairs(spark, data):
    """The grid prefix algebra must equal the O(n^2) pair definition
    on arbitrary tie-heavy inputs (this property caught the sparse-
    grid undercount the oracle mirror could not)."""
    n = len(data)
    C = D = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = data[i][0] - data[j][0]
            dy = data[i][1] - data[j][1]
            if dx != 0 and dy != 0:
                if dx * dy > 0:
                    C += 1
                else:
                    D += 1
    rows = [Row(g="a", x=x, y=y) for x, y in data]
    out = evaluation.kendall_tau_b(
        spark.createDataFrame(rows), x_col="x", y_col="y", group_keys=["g"]
    ).collect()[0]
    assert (out.concordant, out.discordant) == (C, D)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.integers(1, 9), st.integers(0, 1)), min_size=4, max_size=30)
)
def test_isotonic_fit_is_monotone_and_weighted_mean_preserving(spark, data):
    """Two PAV invariants on arbitrary inputs: the fit is monotone
    non-decreasing, and the weighted mean of the fit equals the
    weighted mean of the raw rates (PAV projects onto the monotone
    cone without moving total mass)."""
    rows = [Row(p=(b - 0.5) / 9, y=y) for b, y in data]
    out = evaluation.isotonic_calibration(
        spark.createDataFrame(rows), prob_col="p", label_col="y", bins=9
    ).collect()
    fits = [r.iso_rate for r in out]
    assert fits == sorted(fits)
    total_mass = sum(r.n * r.iso_rate for r in out)
    assert abs(total_mass - sum(y for _, y in data)) < 1e-3


def test_deletion_neighborhood_hostile_hot_variant(spark):
    """Worst case: N strings all within distance 1 of one center (a
    degenerate dup cluster). The candidate set is inherently O(N^2) —
    that's the TRUE OUTPUT (they really are all pairwise-near), not a
    plan defect; verify completeness and exactness under it."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    # 11 names: 'center' + 10 single-substitutions at position 0
    names = ["center"] + [c + "enter" for c in "abdefghijk"]
    rows = [Row(id=i, nm=nm) for i, nm in enumerate(names)]
    out = deletion_neighborhood_pairs(
        spark.createDataFrame(rows), id_col="id", name_col="nm"
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    # every pair differs only at position 0 -> all C(11,2) pairs are
    # within distance 1 and ALL must be found (completeness), exactly
    # once (the distinct)
    import itertools

    assert got == set(itertools.combinations(range(11), 2))


# -------------------------------------------------- greedy_interval_schedule


def test_interval_schedule_hand_traced(spark):
    """Classic fixture: [1,4) [3,5) [0,6) [5,7) [3,9) [6,10) [8,11) —
    earliest-end-first keeps [1,4), [5,7), [8,11) -> 3 kept."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        greedy_interval_schedule,
    )

    ivs = [(1, 4), (3, 5), (0, 6), (5, 7), (3, 9), (6, 10), (8, 11)]
    rows = [Row(g="u", s=s, e=e, k=i) for i, (s, e) in enumerate(ivs)]
    out = greedy_interval_schedule(
        spark.createDataFrame(rows), partition=["g"], start_col="s",
        end_col="e", tiebreak_col="k",
    ).collect()[0]
    assert out.n_intervals == 7 and out.n_kept == 3
    assert out.kept_dur == (4 - 1) + (7 - 5) + (11 - 8)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 10)), min_size=1, max_size=25
    )
)
def test_interval_schedule_matches_bruteforce_greedy(spark, data):
    """The fold must equal the sequential earliest-end-first greedy on
    arbitrary inputs (including touching and nested intervals)."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        greedy_interval_schedule,
    )

    ivs = [(s, s + d, i) for i, (s, d) in enumerate(data)]
    last_e, kept, dur = None, 0, 0
    for e, s, _ in sorted((e, s, i) for s, e, i in ivs):
        if last_e is None or s >= last_e:
            last_e, kept, dur = e, kept + 1, dur + (e - s)
    rows = [Row(g="u", s=s, e=e, k=i) for s, e, i in ivs]
    out = greedy_interval_schedule(
        spark.createDataFrame(rows), partition=["g"], start_col="s",
        end_col="e", tiebreak_col="k",
    ).collect()[0]
    assert (out.n_kept, out.kept_dur) == (kept, dur)


# ------------------------------------------------------------- ngram_novelty


def test_ngram_novelty_extremes(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.dedup import ngram_novelty

    ref = spark.createDataFrame([Row(doc_id=0, text="a b c d e")])
    cands = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),          # fully seen -> 0.0
            Row(doc_id=2, text="x y z w"),            # fully novel -> 1.0
            Row(doc_id=3, text="a b c x y z"),        # 'a b c' seen, 3 novel
            Row(doc_id=4, text="too short"),          # < 3 tokens: excluded
        ]
    )
    out = {r.doc_id: r for r in ngram_novelty(cands, ref).collect()}
    assert out[1].novelty == 0.0
    assert out[2].novelty == 1.0
    assert (out[3].n_shingles, out[3].n_novel) == (4, 3)
    assert 4 not in out


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B", "C"]), st.booleans()),
        min_size=1,
        max_size=30,
    )
)
def test_bandit_replay_matches_sequential_simulation(spark, seq):
    """The windowed replay must equal a straight sequential simulation
    of the greedy policy (unseen-first by name, exact-rational mean
    argmax, name ties) on arbitrary arm/reward sequences."""
    import datetime
    from fractions import Fraction

    from nyc_taxi_data_prediction_pyspark_spark.operators.mining import bandit_replay

    arms = ["A", "B", "C"]
    stats = {a: [0, 0] for a in arms}  # n, s
    agg = {a: [0, 0, 0, 0] for a in arms}  # n_log, n_policy, n_matched, reward
    for arm, r in seq:
        unseen = [a for a in arms if stats[a][0] == 0]
        if unseen:
            pick = min(unseen)
        else:
            # exact-rational argmax with name tie -> smallest name among maxima
            best = max(Fraction(stats[a][1], stats[a][0]) for a in arms)
            pick = min(a for a in arms if Fraction(stats[a][1], stats[a][0]) == best)
        agg[arm][0] += 1
        agg[pick][1] += 1
        if pick == arm:
            agg[pick][2] += 1
            agg[pick][3] += int(r)
        stats[arm][0] += 1
        stats[arm][1] += int(r)

    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        Row(ts=t0 + datetime.timedelta(seconds=i), event_id=i, event_type=a,
            reward=int(r))
        for i, (a, r) in enumerate(seq)
    ]
    out = {r.arm: r for r in bandit_replay(spark.createDataFrame(rows), arms).collect()}
    for a in arms:
        got = out.get(a)
        exp = agg[a]
        if got is None:
            assert exp == [0, 0, 0, 0]
        else:
            assert (got.n_log, got.n_policy, got.n_matched, got.matched_reward) == tuple(exp)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(0, 8), st.integers(1, 5)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),  # one row per (group, key) — the
        # callers' pre-collapsed-distinct-keys contract
    )
)
def test_grouped_cumsum_two_phase_matches_python_prefix(spark, data):
    """The shared two-phase engine vs a plain Python prefix sum on
    random pre-collapsed inputs, inclusive and exclusive, with a
    partition count that forces multi-partition ranges."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        grouped_cumsum_two_phase,
    )

    rows = [Row(g=g, k=k, c=c) for g, k, c in data]
    df = spark.createDataFrame(rows)
    for excl in (False, True):
        out = grouped_cumsum_two_phase(
            df, ["g"], ["k"], ["c"], exclusive=excl, two_phase=True,
            num_partitions=5,
        ).collect()
        got = {(r.g, r.k): r["__cum_c"] for r in out}
        for g in ("g1", "g2"):
            run = 0
            for k, c in sorted((k, c) for gg, k, c in data if gg == g):
                expected = run if excl else run + c
                assert got[(g, k)] == expected
                run += c



def test_seasonal_decompose_ramp_goes_to_trend_not_seasonality(spark):
    """Linear trend + one hot slot: the centered MA must absorb the
    ramp completely (a linear function is its own centered average),
    leaving the hot slot as the only seasonal signal."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        seasonal_decompose,
    )

    rows = [
        Row(g="a", i=i, slot=i % 24, c=100 + i + (240 if i % 24 == 7 else 0))
        for i in range(24 * 8)
    ]
    out = {r.slot: r for r in seasonal_decompose(
        spark.createDataFrame(rows),
        group_cols=["g"], order_col="i", hod_col="slot", value_col="c",
    ).collect()}
    assert out[7].s_index == max(r.s_index for r in out.values())
    assert out[7].s_index > 200
    # the ramp contributes NOTHING to the other slots' indices
    assert all(abs(out[s].s_index) < 15 for s in range(24) if s != 7)


def test_seasonal_decompose_outlier_shows_in_residuals_and_index(spark):
    """Classical (non-robust) decomposition: a one-off spike inflates
    BOTH its slot's residual and — by design — its slot's mean index
    (the documented reason robust STL uses loess/medians). Assert the
    spike's slot carries the corpus-max residual."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        seasonal_decompose,
    )

    rows = []
    for i in range(24 * 8):
        c = 500 + (5000 if i == 24 * 4 + 3 else 0)
        rows.append(Row(g="a", i=i, slot=i % 24, c=c))
    out = {r.slot: r for r in seasonal_decompose(
        spark.createDataFrame(rows),
        group_cols=["g"], order_col="i", hod_col="slot", value_col="c",
    ).collect()}
    assert out[3].max_abs_resid == max(r.max_abs_resid for r in out.values())
    assert out[3].max_abs_resid > 1000


# ----------------------------------------------------------- theil_sen


def test_theil_sen_outlier_immune_known_answer(spark):
    # (0,0) (1,2) (2,4) (3,100): five of six pairwise slopes without
    # the outlier pair agree on 2; sorted slopes [2,2,2,100/3,49,96]
    # -> lower median (cum*2 >= 6 first at the third "2") = 2 exactly,
    # residuals [0,0,0,94] -> intercept 0.  OLS would report ~30.
    rows = [Row(g="a", t=0, y=0), Row(g="a", t=1, y=2),
            Row(g="a", t=2, y=4), Row(g="a", t=3, y=100)]
    out = evaluation.theil_sen(
        spark.createDataFrame(rows), t_col="t", y_col="y", group_keys=["g"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_points == 4 and r.n_pairs == 6
    assert r.slope == 2.0 and r.intercept == 0.0


def test_theil_sen_matches_fraction_brute_force_on_testdata(spark):
    # exact-rational replay on the real daily grid: every engine slope
    # must equal the correctly-rounded double of the Fraction median
    # selected by the same type-1 rank rule
    from fractions import Fraction

    ev = load(spark, SF, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.to_date(F.lit("2024-01-01"))
            ).alias("t"),
        )
        .groupBy("event_type", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    got = {
        r.event_type: r
        for r in evaluation.theil_sen(
            daily, t_col="t", y_col="y", group_keys=["event_type"]
        ).collect()
    }
    pts = daily.collect()
    by_type: dict = {}
    for p in pts:
        by_type.setdefault(p.event_type, []).append((p.t, p.y))
    for et, series in by_type.items():
        series.sort()
        slopes = [
            Fraction(y2 - y1, t2 - t1)
            for i, (t1, y1) in enumerate(series)
            for (t2, y2) in series[i + 1:]
        ]
        # engine slopes are the DOUBLES of these rationals; the rank
        # rule selects in double order, so replay on doubles
        dbl = sorted(float(s) for s in slopes)
        med = dbl[-(-len(dbl) // 2) - 1]  # first index with 2*(i+1) >= n
        assert got[et].slope == med, et
        assert got[et].n_pairs == len(slopes)


# --------------------------------------------------------- mann_kendall


def test_mann_kendall_known_answer_with_ties(spark):
    # y = [1,2,2,3]: S = 5; n=4 -> 4*3*13 = 156; one tie pair of 2 ->
    # 2*1*9 = 18; var_num = 138; z = (5-1)/sqrt(138/18)
    import math

    rows = [Row(g="a", t=0, y=1), Row(g="a", t=1, y=2),
            Row(g="a", t=2, y=2), Row(g="a", t=3, y=3)]
    out = evaluation.mann_kendall(
        spark.createDataFrame(rows), t_col="t", y_col="y", group_keys=["g"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_points == 4 and r.s_stat == 5 and r.var_num == 138
    assert r.z == round(4.0 / math.sqrt(138.0 / 18.0), 6)


def test_mann_kendall_flat_and_monotone_series(spark):
    # strictly increasing: S = n(n-1)/2, no ties; constant: S = 0 and
    # var_num = 0 (all one tie group), z = 0 by the S=0 branch
    rows = [Row(g="up", t=i, y=i * 10) for i in range(6)] + [
        Row(g="flat", t=i, y=7) for i in range(6)
    ]
    out = {
        r.g: r
        for r in evaluation.mann_kendall(
            spark.createDataFrame(rows), t_col="t", y_col="y", group_keys=["g"]
        ).collect()
    }
    assert out["up"].s_stat == 15 and out["up"].z > 0
    assert out["flat"].s_stat == 0 and out["flat"].var_num == 0
    assert out["flat"].z == 0.0

