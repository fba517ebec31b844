"""Round-7 operator batch: ordered funnel, cohort retention, weighted
SSSP, k-anonymity, association rules, Welch t, postings stats, PII
redaction.

Novel-algebra entries carry their INDEPENDENT reference test (the
q244-lesson checklist rule: the oracle replays the same algebra, so a
mirror-symmetric bug would hash green — only a from-scratch
reimplementation catches it):
  * weighted_sssp  -> brute-force synchronous Bellman-Ford on random
    graphs (plain Python dicts);
  * ordered_funnel -> brute-force first-touch funnel fold on random
    event streams;
  * association_rules -> brute-force Counter-based supports on random
    baskets;
  * welch_ttest    -> from-scratch Decimal-quantized Welch algebra.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Row, functions as F

from nyc_taxi_data_prediction_pyspark_spark.operators import (
    aggregates as agg,
    evaluation,
    mining,
    privacy,
    text as textops,
    windows,
)
from nyc_taxi_data_prediction_pyspark_spark.operators.graph import weighted_sssp


# ----------------------------------------------------- weighted SSSP

def test_weighted_sssp_minimal_semantics(spark):
    """Parallel edges collapse to min weight; the hop bound excludes
    longer-but-cheaper paths until enough rounds; unreached nodes are
    absent."""
    edges = spark.createDataFrame(
        [
            Row(src=1, dst=2, w=10),
            Row(src=1, dst=2, w=4),   # parallel: min wins
            Row(src=2, dst=3, w=1),
            Row(src=1, dst=3, w=100),  # direct but expensive
            Row(src=9, dst=1, w=1),    # wrong direction from seed
        ]
    )
    seeds = spark.createDataFrame([Row(node=1)])
    d1 = {r.node: r.dist for r in weighted_sssp(edges, sources=seeds, max_hops=1).collect()}
    assert d1 == {1: 0, 2: 4, 3: 100}  # one hop: direct edge only
    d2 = {r.node: r.dist for r in weighted_sssp(edges, sources=seeds, max_hops=2).collect()}
    assert d2 == {1: 0, 2: 4, 3: 5}  # two hops find 1->2->3
    assert 9 not in d2  # never reached


def test_weighted_sssp_matches_bruteforce_on_random_graphs(spark):
    """Hop-bounded distances must equal a from-scratch synchronous
    Bellman-Ford (each round relaxes from the PREVIOUS round's map —
    the operator's union-then-min semantics)."""
    for seed in (3, 11, 23):
        rng = random.Random(seed)
        n_nodes = 9
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes), rng.randrange(1, 15))
            for _ in range(22)
        ]
        seeds = [0, 4]
        dist = {s: 0 for s in seeds}
        for _ in range(3):
            new = dict(dist)
            for u, v, w in edges:
                if u in dist and dist[u] + w < new.get(v, math.inf):
                    new[v] = dist[u] + w
            dist = new
        e = spark.createDataFrame([Row(src=u, dst=v, w=w) for u, v, w in edges])
        s = spark.createDataFrame([Row(node=x) for x in seeds])
        got = {
            r.node: r.dist
            for r in weighted_sssp(e, sources=s, max_hops=3).collect()
        }
        assert got == dist, f"seed {seed}: {got} != {dist}"


# ----------------------------------------------------- ordered funnel

BASE = datetime(2024, 1, 1, 0, 0, 0)


def _ev(u, minutes, e):
    return Row(user_id=u, ts=BASE + timedelta(minutes=minutes), event_type=e)


def test_ordered_funnel_first_touch_anchor_contract(spark):
    """The documented contract: a user whose SECOND entry would
    convert inside its own window is still NOT converted, because the
    horizon anchors at the FIRST step-0 event."""
    h = 60 * 60 * 1_000_000  # 60 minutes
    df = spark.createDataFrame(
        [
            _ev(1, 0, "A"),    # first anchor at t=0, window ends t=60m
            _ev(1, 120, "A"),  # re-entry (ignored as anchor)
            _ev(1, 130, "B"),  # inside re-entry window, outside first
        ]
    )
    out = windows.ordered_funnel(
        df, user_col="user_id", ts_col="ts", type_col="event_type",
        steps=["A", "B"], horizon_us=h,
    ).collect()
    assert len(out) == 1 and out[0].t1 is None


def test_ordered_funnel_strict_order_and_horizon_edges(spark):
    """Simultaneous step-1 does not count (strictly after); an event
    exactly AT the horizon boundary counts (<=)."""
    h = 60 * 60 * 1_000_000
    df = spark.createDataFrame(
        [
            _ev(1, 0, "A"), _ev(1, 0, "B"),    # same instant: no
            _ev(2, 0, "A"), _ev(2, 60, "B"),   # exactly t0+H: yes
            _ev(3, 0, "A"), _ev(3, 61, "B"),   # past horizon: no
        ]
    )
    out = {
        r.user_id: r.t1
        for r in windows.ordered_funnel(
            df, user_col="user_id", ts_col="ts", type_col="event_type",
            steps=["A", "B"], horizon_us=h,
        ).collect()
    }
    assert out[1] is None and out[3] is None and out[2] is not None


def test_ordered_funnel_matches_bruteforce_on_random_streams(spark):
    """Independent reference: a plain-Python first-touch greedy fold
    over random event streams must produce the same per-user step
    completion offsets."""
    steps = ["A", "B", "C"]
    h_min = 50
    for seed in (2, 9, 31):
        rng = random.Random(seed)
        events = [
            (rng.randrange(6), rng.randrange(200), rng.choice(["A", "B", "C", "X"]))
            for _ in range(120)
        ]
        # brute force (minutes domain)
        expected = {}
        by_user: dict[int, list[tuple[int, str]]] = {}
        for u, m, e in events:
            by_user.setdefault(u, []).append((m, e))
        for u, evs in by_user.items():
            anchors = [m for m, e in evs if e == steps[0]]
            if not anchors:
                continue
            t0 = min(anchors)
            times = [t0]
            prev = t0
            for k in range(1, len(steps)):
                cand = [
                    m for m, e in evs
                    if e == steps[k] and m > prev and m <= t0 + h_min
                ]
                if not cand:
                    times += [None] * (len(steps) - k)
                    break
                prev = min(cand)
                times.append(prev)
            expected[u] = times

        df = spark.createDataFrame([_ev(u, m, e) for u, m, e in events])
        got_rows = windows.ordered_funnel(
            df, user_col="user_id", ts_col="ts", type_col="event_type",
            steps=steps, horizon_us=h_min * 60 * 1_000_000,
        ).collect()
        base_us = {r.user_id: r.t0 for r in got_rows}
        got = {}
        for r in got_rows:
            t0m = expected[r.user_id][0]  # offsets are relative; t0 pins them
            got[r.user_id] = [
                None if t is None else t0m + (t - base_us[r.user_id]) // 60_000_000
                for t in (r.t0, r.t1, r.t2)
            ]
        assert got == expected, f"seed {seed}"


# ------------------------------------------------- association rules

def test_association_rules_matches_bruteforce(spark):
    """Independent reference: Counter-based supports over random
    baskets; confidence and lift compared at 1e-12 relative."""
    for seed in (5, 17):
        rng = random.Random(seed)
        rows = [
            (b, rng.randrange(8))
            for b in range(30)
            for _ in range(rng.randrange(1, 6))
        ]
        baskets: dict[int, set[int]] = {}
        for b, i in rows:
            baskets.setdefault(b, set()).add(i)
        sup: dict[int, int] = {}
        pair: dict[tuple[int, int], int] = {}
        for items in baskets.values():
            for i in items:
                sup[i] = sup.get(i, 0) + 1
        frequent = {i for i, c in sup.items() if c >= 3}
        for items in baskets.values():
            fi = sorted(i for i in items if i in frequent)
            for x in range(len(fi)):
                for y in range(x + 1, len(fi)):
                    pair[(fi[x], fi[y])] = pair.get((fi[x], fi[y]), 0) + 1
        n = len(baskets)
        expected = {}
        for (a, b), ps in pair.items():
            if ps < 3:
                continue
            for ante, cons in ((a, b), (b, a)):
                expected[(ante, cons)] = (
                    ps, sup[ante], sup[cons],
                    ps / sup[ante], ps * n / (sup[ante] * sup[cons]),
                )

        df = spark.createDataFrame([Row(b=b, i=i) for b, i in rows])
        got_rows = mining.association_rules(
            df, basket_col="b", item_col="i", min_support=3
        ).collect()
        got = {
            (r.antecedent, r.consequent): (
                r.pair_support, r.ante_support, r.cons_support,
                r.confidence, r.lift,
            )
            for r in got_rows
        }
        assert set(got) == set(expected), f"seed {seed}"
        for k, (ps, sa, sc, conf, lift) in expected.items():
            g = got[k]
            assert g[:3] == (ps, sa, sc)
            assert abs(g[3] - conf) <= 1e-12 * max(1.0, conf)
            assert abs(g[4] - lift) <= 1e-12 * max(1.0, lift)


# ------------------------------------------------------ Welch t-test

def test_welch_ttest_matches_independent_algebra(spark):
    """From-scratch Decimal-quantized Welch computation (exact sums
    emulating the DECIMAL(38,10) quantization, then IEEE algebra in
    the same order); 1e-6 absolute agreement post-rounding."""
    rng = random.Random(13)
    rows = [
        Row(g="g1", x=round(rng.uniform(0, 100), 2), arm=rng.randrange(2))
        for _ in range(200)
    ] + [Row(g="g2", x=round(rng.uniform(50, 60), 2), arm=rng.randrange(2))
         for _ in range(50)]
    df = spark.createDataFrame(rows)
    out = {
        r.g: r
        for r in evaluation.welch_ttest(
            df, group_keys=["g"], value_col="x", arm_col="arm"
        ).collect()
    }

    q = Decimal("1e-10")
    for g in ("g1", "g2"):
        sel = [(r.x, r.arm) for r in rows if r.g == g]
        s1 = {0: Decimal(0), 1: Decimal(0)}
        s2 = {0: Decimal(0), 1: Decimal(0)}
        cnt = {0: 0, 1: 0}
        for x, arm in sel:
            xf = float(x)
            cnt[arm] += 1
            s1[arm] += Decimal(xf).quantize(q, ROUND_HALF_UP)
            s2[arm] += Decimal(xf * xf).quantize(q, ROUND_HALF_UP)
        na, nb = float(cnt[0]), float(cnt[1])
        f1a, f1b, f2a, f2b = float(s1[0]), float(s1[1]), float(s2[0]), float(s2[1])
        ma, mb = f1a / na, f1b / nb
        va = (f2a - (f1a * f1a) / na) / (na - 1.0)
        vb = (f2b - (f1b * f1b) / nb) / (nb - 1.0)
        se2a, se2b = va / na, vb / nb
        t = (ma - mb) / math.sqrt(se2a + se2b)
        dfw = ((se2a + se2b) * (se2a + se2b)) / (
            (se2a * se2a) / (na - 1.0) + (se2b * se2b) / (nb - 1.0)
        )
        r = out[g]
        assert (r.n_a, r.n_b) == (cnt[0], cnt[1])
        assert abs(r.mean_a - ma) <= 1e-6 and abs(r.mean_b - mb) <= 1e-6
        assert abs(r.t_stat - t) <= 1e-6
        assert abs(r.df_welch - dfw) <= 1e-3  # rounded to 4 dp


def test_welch_ttest_small_arm_yields_null(spark):
    df = spark.createDataFrame(
        [Row(g="g", x=1.0, arm=0), Row(g="g", x=2.0, arm=1), Row(g="g", x=3.0, arm=1)]
    )
    r = evaluation.welch_ttest(
        df, group_keys=["g"], value_col="x", arm_col="arm"
    ).collect()[0]
    assert r.t_stat is None and r.df_welch is None and r.n_a == 1


# ------------------------------------------------------- k-anonymity

def test_k_anonymity_audit_histogram_and_l_diversity(spark):
    df = spark.createDataFrame(
        [
            Row(qa="x", qb=1, s="s1"),
            Row(qa="x", qb=1, s="s1"),
            Row(qa="x", qb=1, s="s2"),  # class (x,1): size 3, l=2
            Row(qa="y", qb=2, s="s3"),  # class (y,2): size 1, l=1
        ]
    )
    out = {
        r.class_size: r
        for r in privacy.k_anonymity_audit(
            df, quasi_cols=["qa", "qb"], sensitive_col="s", k=5
        ).collect()
    }
    assert out[3].n_classes == 1 and out[3].min_l_diversity == 2
    assert out[1].n_classes == 1 and out[1].min_l_diversity == 1
    assert out[1].violates_k and out[3].violates_k  # both below k=5
    assert abs(out[3].row_share - 0.75) < 1e-12


# -------------------------------------------------- cohort retention

def test_cohort_retention_triangle(spark):
    W0, W1 = datetime(2024, 1, 1, 12), datetime(2024, 1, 8, 12)  # Mondays
    W6 = datetime(2024, 2, 12, 12)
    df = spark.createDataFrame(
        [
            Row(u=1, ts=W0), Row(u=1, ts=W1),          # cohort W0, active offsets 0,1
            Row(u=2, ts=W0 + timedelta(days=2)),       # cohort W0, offset 0 only
            Row(u=3, ts=W1), Row(u=3, ts=W6),          # cohort W1; offset 5 dropped
        ]
    )
    out = {
        (str(r.cohort_week), r.week_offset): (r.n_active, r.n_cohort, r.retention)
        for r in agg.cohort_retention(df, user_col="u", ts_col="ts", max_offset=4).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 2, 0.5)
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(out) == 3  # the offset-5 activity is dropped


# ---------------------------------------------------- postings stats

def test_postings_stats_gap_algebra(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b"),
            Row(doc_id=1, text="a"),
            Row(doc_id=2, text="a  c"),  # double space: empty token filtered
        ]
    )
    out = {r.term: r for r in textops.postings_stats(df, top_terms=10).collect()}
    # 'a' postings [0,1,2]: gaps from -1 are 1,1,1 -> bits 3, max 1
    assert (out["a"].df_docs, out["a"].max_gap, out["a"].gap_bits) == (3, 1, 3)
    assert abs(out["a"].avg_gap - 1.0) < 1e-12
    # 'c' postings [2]: single gap 3 -> bin '11' -> 2 bits
    assert (out["c"].df_docs, out["c"].max_gap, out["c"].gap_bits) == (1, 3, 2)
    assert abs(out["c"].avg_gap - 3.0) < 1e-12
    assert "" not in out


# ----------------------------------------------------- PII redaction

def test_redact_pii_hostile_adjacency_and_lengths(spark):
    """Boundary lengths (12 no / 13 yes / 19 yes / 20 -> greedy 19+1),
    multiple categories per row, and exact rewritten text."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a@b.co 123-456-7890 1234567890123 x1@y.io"),
            Row(doc_id=2, text="123456789012 no card"),        # 12 digits: not a card
            Row(doc_id=3, text="12345678901234567890 tail"),   # 20: greedy 19 + '0'
        ]
    )
    out = {r.doc_id: r for r in privacy.redact_pii(df, text_col="text").collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_card) == (2, 1, 1)
    assert out[2].n_card == 0
    assert out[3].n_card == 1  # one greedy 19-digit match
    # exact rewritten bytes for the multi-category row
    red1 = spark.createDataFrame([Row(t="a@b.co 123-456-7890 1234567890123 x1@y.io")])
    got = red1.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), privacy.EMAIL_RE, "[EMAIL]"),
                privacy.PHONE_RE, "[PHONE]",
            ),
            privacy.CARD_RE, "[CARD]",
        ).alias("r")
    ).collect()[0].r
    assert got == "[EMAIL] [PHONE] [CARD] [EMAIL]"
    import hashlib

    assert out[1].redacted_md5 == hashlib.md5(got.encode()).hexdigest()


# ------------------------------------------------- batch 2 (q259-263)

def test_grouped_mahalanobis2_matches_hand_algebra(spark):
    """Independent reference: plain-Python 2x2 covariance inverse and
    per-point d^2 on random integer features."""
    rng = random.Random(41)
    rows = [Row(g="a", x1=rng.randrange(24), x2=rng.randrange(1, 31)) for _ in range(300)]
    df = spark.createDataFrame(rows)
    r = agg.grouped_mahalanobis2(
        df, group_keys=["g"], x1_col="x1", x2_col="x2", cutoff=9.0
    ).collect()[0]

    xs = [(float(q.x1), float(q.x2)) for q in rows]
    n = len(xs)
    m1 = sum(x for x, _ in xs) / n
    m2 = sum(y for _, y in xs) / n
    c11 = sum(x * x for x, _ in xs) / n - m1 * m1
    c22 = sum(y * y for _, y in xs) / n - m2 * m2
    c12 = sum(x * y for x, y in xs) / n - m1 * m2
    det = c11 * c22 - c12 * c12
    d2s = [
        ((x - m1) * (c22 * (x - m1) - c12 * (y - m2))
         + (y - m2) * (c11 * (y - m2) - c12 * (x - m1))) / det
        for x, y in xs
    ]
    assert r.n == n
    assert abs(r.det - det) <= 1e-4 * max(1.0, abs(det))
    assert r.n_outliers == sum(1 for d in d2s if d > 9.0)
    assert abs(r.max_d2 - max(d2s)) <= 1e-4


def test_grouped_mahalanobis2_degenerate_group_is_null(spark):
    df = spark.createDataFrame([Row(g="c", x1=5, x2=7)] * 4)  # constant: det 0
    r = agg.grouped_mahalanobis2(
        df, group_keys=["g"], x1_col="x1", x2_col="x2"
    ).collect()[0]
    assert r.max_d2 is None and r.n_outliers == 0


def test_sequential_trigrams_counts_distinct_users(spark):
    df = spark.createDataFrame(
        [
            # user 1 repeats A,B,C twice -> support contribution 1
            _ev(1, 0, "A"), _ev(1, 1, "B"), _ev(1, 2, "C"),
            _ev(1, 3, "A"), _ev(1, 4, "B"), _ev(1, 5, "C"),
            # user 2 has one A,B,C
            _ev(2, 0, "A"), _ev(2, 1, "B"), _ev(2, 2, "C"),
        ]
    )
    # windows over (ts, event_id): synthesize unique ids via row index
    df = df.withColumn("event_id", F.monotonically_increasing_id())
    out = mining.sequential_trigrams(
        df, seq_col="user_id", ts_col="ts", id_col="event_id",
        item_col="event_type", top_k=10,
    ).collect()
    got = {(r.item_1, r.item_2, r.item_3): r.support for r in out}
    assert got[("A", "B", "C")] == 2  # distinct users, not occurrences
    assert got[("B", "C", "A")] == 1  # user 1's wrap path


def test_runs_test_two_phase_equals_plain_fold(spark):
    """The operator's bucketed-stitched run count must equal the
    single-pass fold for random sequences spanning many buckets."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.evaluation import runs_test

    for seed in (7, 29):
        rng = random.Random(seed)
        rows = [
            Row(
                g="g",
                ts=BASE + timedelta(days=rng.randrange(10), minutes=i),
                event_id=i,
                value=rng.uniform(0, 200),
            )
            for i in range(400)
        ]
        df = spark.createDataFrame(rows)
        r = runs_test(
            df, group_keys=["g"], value_col="value", ts_col="ts",
            id_col="event_id", threshold=100.0,
        ).collect()[0]
        seq = [q.value > 100.0 for q in sorted(rows, key=lambda q: (q.ts, q.event_id))]
        runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
        n1 = sum(seq)
        n0 = len(seq) - n1
        nf, a2 = float(len(seq)), 2.0 * n1 * n0
        er = 1.0 + a2 / nf
        vr = (a2 * (a2 - nf)) / ((nf * nf) * (nf - 1.0))
        z = (runs - er) / math.sqrt(vr)
        assert (r.runs, r.n1, r.n0) == (runs, n1, n0)
        assert abs(r.expected_runs - er) <= 1e-6
        assert abs(r.z_stat - z) <= 1e-6


def test_wasserstein1_matches_exact_fraction_computation(spark):
    """Independent reference: exact-rational W1 via Fractions over the
    pooled distinct values."""
    from fractions import Fraction

    from nyc_taxi_data_prediction_pyspark_spark.operators.evaluation import wasserstein_1

    rng = random.Random(19)
    rows = [
        Row(g="g", v=round(rng.uniform(0, 50), 2), arm=rng.randrange(2))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows)
    r = wasserstein_1(
        df, group_keys=["g"], value_col="v", arm_col="arm", value_scale=2
    ).collect()[0]

    # exact reference on the cent grid
    a = sorted(round(q.v * 100) for q in rows if q.arm == 0)
    b = sorted(round(q.v * 100) for q in rows if q.arm == 1)
    vals = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    w1 = Fraction(0)
    for v, nv in zip(vals, vals[1:]):
        fa = Fraction(sum(1 for x in a if x <= v), na)
        fb = Fraction(sum(1 for x in b if x <= v), nb)
        w1 += Fraction(nv - v, 100) * abs(fa - fb)
    assert (r.n_a, r.n_b) == (na, nb)
    assert abs(r.w1 - float(w1)) <= 1e-9


def test_effective_sample_size_bounds_and_exactness(spark):
    df = spark.createDataFrame(
        [Row(g="u", w=5), Row(g="u", w=5), Row(g="u", w=5),   # uniform: ESS = n
         Row(g="s", w=1000), Row(g="s", w=1), Row(g="s", w=1)]  # skewed: ESS ~ 1
    )
    out = {r.g: r for r in agg.effective_sample_size(
        df, group_keys=["g"], weight_col="w"
    ).collect()}
    assert abs(out["u"].ess - 3.0) <= 1e-12 and abs(out["u"].ess_ratio - 1.0) <= 1e-12
    exp = (1002.0 ** 2) / (1000.0 ** 2 + 1 + 1)
    assert abs(out["s"].ess - exp) <= 1e-9
    assert out["s"].ess_ratio < 0.45


# ---------------------------------------- batch 3 (q264-q266)

def test_funnel_state_fold_late_anchor_requalifies_and_disqualifies(spark):
    """The reason naive per-step minima are wrong: a late, EARLIER
    anchor shrinks the window — candidates above the new t0+H are
    pruned; candidates at/below the old anchor stay (they may qualify
    against the new one)."""
    from nyc_taxi_data_prediction_pyspark_spark.streaming.pipeline import (
        funnel_state_fold,
    )

    h = 50
    s1 = spark.createDataFrame(
        [Row(user_id=1, kind=0, t=100), Row(user_id=1, kind=1, t=140),
         Row(user_id=1, kind=1, t=90)]  # below anchor: KEPT (may requalify)
    )
    f1 = funnel_state_fold(s1, horizon_us=h)
    assert {(r.kind, r.t) for r in f1.collect()} == {(0, 100), (1, 140), (1, 90)}
    # late batch delivers the TRUE anchor t=60: window becomes [.., 110]
    s2 = f1.unionByName(
        spark.createDataFrame([Row(user_id=1, kind=0, t=60)])
    )
    f2 = funnel_state_fold(s2, horizon_us=h)
    got = {(r.kind, r.t) for r in f2.collect()}
    # 140 pruned forever (above every future window); 90 — rejected by
    # the OLD anchor (not > 100) — is now the qualifying click
    assert got == {(0, 60), (1, 90)}
    # idempotence: re-folding (redelivery) changes nothing
    f3 = funnel_state_fold(f2, horizon_us=h)
    assert {(r.kind, r.t) for r in f3.collect()} == got


def test_funnel_state_fold_split_invariance(spark):
    """Random event stream, random batch split: incremental folding
    must land on the same state as one batch, and the replayed funnel
    must equal the batch funnel."""
    from nyc_taxi_data_prediction_pyspark_spark.streaming.pipeline import (
        funnel_state_fold,
    )

    for seed in (4, 21):
        rng = random.Random(seed)
        rows = [
            Row(user_id=rng.randrange(5), kind=rng.randrange(3),
                t=rng.randrange(1000))
            for _ in range(150)
        ]
        h = 200
        batch = funnel_state_fold(spark.createDataFrame(rows), horizon_us=h)
        expected = {(r.user_id, r.kind, r.t) for r in batch.collect()}
        cut1, cut2 = sorted(rng.sample(range(1, len(rows) - 1), 2))
        state = None
        for part in (rows[:cut1], rows[cut1:cut2], rows[cut2:], rows[cut1:cut2]):
            inc = spark.createDataFrame(part)  # 4th part = redelivery
            s = inc if state is None else state.unionByName(inc)
            state = funnel_state_fold(s, horizon_us=h).localCheckpoint()
        got = {(r.user_id, r.kind, r.t) for r in state.collect()}
        assert got == expected, f"seed {seed}"


def test_zone_map_skip_audit_hand_case(spark):
    """3-row files over a sorted key; band [20, 29] hits only the
    middle file's zone."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.layout import (
        zone_map_skip_audit,
    )

    rows = [Row(k=i, p=i * 10) for i in range(9)]  # p: 0..80
    df = spark.createDataFrame(rows)
    r = zone_map_skip_audit(
        df, order_col="k", predicate_col="p", lo=20, hi=29, bucket_rows=3
    ).collect()[0]
    # files: p in {0,10,20}, {30,40,50}, {60,70,80}; only file 0's zone
    # [0,20] intersects [20,29]
    assert (r.n_files, r.n_skipped, r.rows_total) == (3, 2, 9)
    assert (r.rows_scanned, r.rows_matching) == (3, 1)
    assert abs(r.skip_ratio - 2 / 3) < 1e-12
    assert abs(r.scan_amplification - 3.0) < 1e-12


def test_compaction_plan_matches_python_next_fit(spark):
    """Independent reference: plain-Python next-fit-decreasing over
    random file sizes; also the lower bound bins >= ceil(total/target)
    cannot be violated from below by more than NF's 2x factor."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.layout import (
        compaction_plan_next_fit,
    )

    for seed in (6, 13):
        rng = random.Random(seed)
        rows = [
            Row(pt=p, fid=i, sz=rng.randrange(10, 120))
            for p in ("a", "b") for i in range(40)
        ]
        df = spark.createDataFrame(rows)
        out = {
            r.pt: r
            for r in compaction_plan_next_fit(
                df, partition_col="pt", size_col="sz", id_col="fid",
                target_bytes=100,
            ).collect()
        }
        for p in ("a", "b"):
            sizes = sorted(
                ((r.sz, r.fid) for r in rows if r.pt == p),
                key=lambda x: (-x[0], x[1]),
            )
            bins, load = 0, 0
            for s, _ in sizes:
                if bins == 0 or load + s > 100:
                    bins, load = bins + 1, s
                else:
                    load += s
            total = sum(s for s, _ in sizes)
            r = out[p]
            assert (r.n_files, r.total_bytes, r.n_bins) == (len(sizes), total, bins)
            lower = -(-total // 100)  # ceil
            assert lower <= bins <= 2 * lower + 1


def test_compaction_plan_oversized_file_gets_own_bin(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.layout import (
        compaction_plan_next_fit,
    )

    df = spark.createDataFrame(
        [Row(pt="x", fid=1, sz=500), Row(pt="x", fid=2, sz=30), Row(pt="x", fid=3, sz=30)]
    )
    r = compaction_plan_next_fit(
        df, partition_col="pt", size_col="sz", id_col="fid", target_bytes=100
    ).collect()[0]
    assert r.n_bins == 2  # [500], [30, 30]


# ---------------------------------------- batch 4 (q267-q268)

def test_stationary_distribution_matches_numpy_power_iteration(spark):
    """Independent reference: numpy float64 power iteration from the
    uniform start on a random strongly-connected chain (different
    algorithm path entirely — matmul, no quantization; 1e-6 after 8
    rounds)."""
    import numpy as np

    rng = random.Random(8)
    k = 4
    counts = [
        (i, j, rng.randrange(1, 20)) for i in range(k) for j in range(k)
    ]
    df = spark.createDataFrame([Row(i=i, j=j, n=n) for i, j, n in counts])
    out = {
        r.state: r
        for r in mining.stationary_distribution(
            df, from_col="i", to_col="j", count_col="n", iterations=8
        ).collect()
    }
    P = np.zeros((k, k))
    for i, j, n in counts:
        P[i, j] = n
    P = P / P.sum(axis=1, keepdims=True)
    pi = np.full(k, 1.0 / k)
    prev = pi
    for _ in range(8):
        prev = pi
        pi = pi @ P
    for s in range(k):
        assert abs(out[s].pi - pi[s]) <= 1e-6
    assert abs(out[0].l1_delta - float(np.abs(pi - prev).sum())) <= 1e-6
    assert abs(sum(r.pi for r in out.values()) - 1.0) <= 1e-6  # mass conserved


def test_stationary_inrow_equals_frameloop(spark):
    """Round-14 guard contract (verdict #7): the in-row fold
    (domain_bounded=True) and the distributed frame-loop fallback
    (domain_bounded=False) must be BIT-equal — same rows, same pi and
    l1_delta doubles — including on a chain with a dangling state
    (membership rule) and with the default #states auto-dispatch, on an
    empty transitions frame (0 rows: the empty state-index guard) and on
    a one-state self-loop (the in-row per-state total)."""
    rng = random.Random(14)
    k = 5
    counts = [
        (i, j, rng.randrange(1, 20))
        for i in range(k - 1)  # state k-1 is dangling: only a destination
        for j in range(k)
        if rng.random() > 0.3
    ]
    kw = dict(from_col="i", to_col="j", count_col="n", iterations=8)

    def both(rows):
        df = spark.createDataFrame(rows, "i bigint, j bigint, n bigint")
        inrow = sorted(
            mining.stationary_distribution(df, domain_bounded=True, **kw).collect()
        )
        floop = sorted(
            mining.stationary_distribution(df, domain_bounded=False, **kw).collect()
        )
        assert inrow == floop  # bit-equal rows (Row == compares values)
        return df, inrow

    df, inrow = both(counts)
    auto = sorted(mining.stationary_distribution(df, **kw).collect())
    assert inrow == auto
    # auto-dispatch picks the frame-loop when the domain exceeds the bound
    tiny = sorted(
        mining.stationary_distribution(df, max_inrow_states=2, **kw).collect()
    )
    assert tiny == inrow
    assert both([])[1] == []
    assert [tuple(r) for r in both([(3, 3, 7)])[1]] == [(3, 1.0, 0.0)]


def test_term_burstiness_hand_case(spark):
    """'bursty' appears 4+4 in two docs (VMR: mean 4, var 0 -> 0);
    'spread' appears 1,7 (mean 4, var 9 -> 2.25)."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="bursty " * 4 + "spread"),
            Row(doc_id=2, text="bursty " * 4 + "spread " * 7),
        ]
    )
    out = {
        r.term: r
        for r in textops.term_burstiness(df, min_df=2, top_terms=10).collect()
    }
    assert out["bursty"].vmr == 0.0 and out["bursty"].mean_count == 4.0
    assert abs(out["spread"].vmr - 2.25) <= 1e-9
    assert out["spread"].df_docs == 2 and out["spread"].total_count == 8
