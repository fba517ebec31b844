"""Round-12 operator batch: exact decision stump (1-level CART),
greedy max-coverage subset selection, Simpson's-paradox reversal
audit, t-closeness EMD audit.

Novel-algebra entries carry their INDEPENDENT reference test (the
q244-lesson checklist rule: the oracle replays the same algebra, so a
mirror-symmetric bug would hash green — only a from-scratch
reimplementation catches it):
  * decision_stump   -> Fraction-exact brute-force over every distinct
    split on random labeled data;
  * coverage_greedy_selection -> plain-Python greedy over set objects;
  * simpsons_reversal -> the textbook kidney-stone table (a KNOWN
    reversal) plus Fraction-exact direction checks on random data;
  * t_closeness_audit -> Fraction-exact EMD over the ordered domain.
"""

from __future__ import annotations

import random
from fractions import Fraction

import pytest
from pyspark.sql import Row

from nyc_taxi_data_prediction_pyspark_spark.operators import mining
from nyc_taxi_data_prediction_pyspark_spark.operators.dedup import (
    coverage_greedy_selection,
)
from nyc_taxi_data_prediction_pyspark_spark.operators.privacy import (
    t_closeness_audit,
)


# --------------------------------------------------- decision stump


def _brute_stump(points):
    """Fraction-exact best (gini, split) over distinct values."""
    vals = sorted({v for v, _ in points})
    n = len(points)
    best = None
    for c in vals[:-1]:  # all-left split excluded
        left = [(v, y) for v, y in points if v <= c]
        right = [(v, y) for v, y in points if v > c]
        nl, nr = len(left), len(right)
        pl = sum(y for _, y in left)
        pr = sum(y for _, y in right)
        ql, qr = nl - pl, nr - pr
        g = (
            Fraction(nl * nl - pl * pl - ql * ql, nl)
            + Fraction(nr * nr - pr * pr - qr * qr, nr)
        ) / n
        key = (g, c)
        if best is None or key < best[0]:
            best = (key, c, nl, pl, nr, pr)
    return best


def test_decision_stump_matches_fraction_brute_force(spark):
    rng = random.Random(7)
    points = [
        (float(rng.randint(0, 20)) / 2.0, int(rng.random() < 0.3))
        for _ in range(400)
    ]
    out = mining.decision_stump(
        spark.createDataFrame([Row(g=1, v=v, y=y) for v, y in points]),
        value_col="v",
        label_col="y",
        group_keys=["g"],
    ).collect()
    assert len(out) == 1
    r = out[0]
    (_, c, nl, pl, nr, pr) = _brute_stump(points)
    assert r.split_value == c
    assert (r.n_left, r.pos_left, r.n_right, r.pos_right) == (nl, pl, nr, pr)
    # the reported gini agrees with the exact rational at round-6
    gexact = (
        Fraction(nl * nl - pl * pl - (nl - pl) ** 2, nl)
        + Fraction(nr * nr - pr * pr - (nr - pr) ** 2, nr)
    ) / len(points)
    assert abs(r.gini - float(gexact)) < 1e-6


def test_decision_stump_perfect_split_and_grouping(spark):
    """A perfectly separable feature gives gini 0 at the boundary
    value; groups are scored independently."""
    rows = [Row(g="a", v=float(i), y=int(i >= 50)) for i in range(100)]
    rows += [Row(g="b", v=float(i % 10), y=int(i % 10 >= 5)) for i in range(100)]
    out = {r.g: r for r in mining.decision_stump(
        spark.createDataFrame(rows), value_col="v", label_col="y", group_keys=["g"]
    ).collect()}
    assert out["a"].split_value == 49.0 and out["a"].gini == 0.0
    assert out["b"].split_value == 4.0 and out["b"].gini == 0.0
    assert out["a"].n_left == 50 and out["a"].pos_left == 0


# ----------------------------------------------- coverage greedy


def _brute_coverage(doc_shingles, k):
    """Plain-Python greedy: (round, doc, gain, covered_total)."""
    covered: set[str] = set()
    pool = sorted(doc_shingles)
    out = []
    for r in range(1, k + 1):
        best = None
        for d in pool:
            gain = len(doc_shingles[d] - covered)
            key = (-gain, d)
            if best is None or key < best[0]:
                best = (key, d, gain)
        _, d, gain = best
        covered |= doc_shingles[d]
        pool.remove(d)
        out.append((r, d, gain, len(covered)))
    return out


@pytest.mark.parametrize("k", [4, 5])
def test_coverage_greedy_matches_python_greedy(spark, k):
    """Deterministic docs with engineered overlaps: the Spark greedy
    must equal the set-based Python greedy round for round (including
    the gain-tie doc_id tie-break).  At k=5 the last two picks (docs 2
    and 5) both gain 0, so their rounds pin the id order of a tie."""
    words = [f"w{i}" for i in range(30)]
    docs = {
        1: " ".join(words[0:12]),        # 10 shingles
        2: " ".join(words[0:12]),        # exact dup of 1 -> gain 0 later
        3: " ".join(words[8:24]),        # overlaps 1
        4: " ".join(words[20:30]),       # overlaps 3
        5: " ".join(words[5:9]),         # small, inside 1+3
    }

    def shingles(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expect = _brute_coverage({d: shingles(t) for d, t in docs.items()}, k)
    if k == 5:
        assert expect[3:] == [(4, 2, 0, 28), (5, 5, 0, 28)]
    out = coverage_greedy_selection(
        spark.createDataFrame([Row(doc_id=d, text=t) for d, t in docs.items()]),
        text_col="text",
        id_col="doc_id",
        k=k,
        n=3,
    ).collect()
    got = [(r["round"], r.doc_id, r.gain, r.covered_total) for r in out]
    assert sorted(got) == expect


def test_coverage_greedy_excludes_short_docs(spark):
    """Docs under n tokens have no shingles and are never picked."""
    rows = [
        Row(doc_id=1, text="only two"),
        Row(doc_id=2, text="alpha beta gamma delta"),
    ]
    out = coverage_greedy_selection(
        spark.createDataFrame(rows), text_col="text", id_col="doc_id", k=1, n=3
    ).collect()
    assert [r.doc_id for r in out] == [2]
    assert out[0].gain == 2 and out[0].covered_total == 2


# ------------------------------------------------ simpsons reversal


def test_simpsons_reversal_kidney_stone_table(spark):
    """The textbook Charig 1986 kidney-stone data: treatment A beats B
    within BOTH severity segments yet loses pooled — both segments
    must flag reversal (seg_dir=+1, pooled_dir=-1)."""
    rows = []

    def add(seg, cohort, n, pos):
        rows.extend(
            Row(seg=seg, c=cohort, y=1) for _ in range(pos)
        )
        rows.extend(
            Row(seg=seg, c=cohort, y=0) for _ in range(n - pos)
        )

    add("small", 1, 87, 81)    # A on small stones: 93%
    add("small", 0, 270, 234)  # B on small stones: 87%
    add("large", 1, 263, 192)  # A on large stones: 73%
    add("large", 0, 80, 55)    # B on large stones: 69%
    out = {r.segment: r for r in mining.simpsons_reversal(
        spark.createDataFrame(rows),
        segment_col="seg",
        cohort_col="c",
        outcome_col="y",
    ).collect()}
    for seg in ("small", "large"):
        assert out[seg].seg_dir == 1
        assert out[seg].pooled_dir == -1
        assert out[seg].reversal is True
    # pooled: A 273/350 = 78% < B 289/350 = 83%
    assert out["small"].n_a == 87 and out["small"].pos_a == 81


def test_simpsons_direction_is_integer_exact(spark):
    """Equal rates across cohorts -> dir 0, never flagged (the float
    division would be 0.1666... vs 0.1666... — the integer cross-
    multiplication decides equality exactly)."""
    rows = []
    for seg in ("x", "y"):
        rows += [Row(seg=seg, c=1, y=1)] * 1
        rows += [Row(seg=seg, c=1, y=0)] * 5
        rows += [Row(seg=seg, c=0, y=1)] * 2
        rows += [Row(seg=seg, c=0, y=0)] * 10
    out = mining.simpsons_reversal(
        spark.createDataFrame(rows), segment_col="seg", cohort_col="c",
        outcome_col="y",
    ).collect()
    assert all(r.seg_dir == 0 and r.pooled_dir == 0 and r.reversal is False
               for r in out)


# --------------------------------------------------- t-closeness


def _brute_emd(class_counts, global_counts):
    """Fraction-exact ordered EMD."""
    domain = sorted(global_counts)
    nc = sum(class_counts.values())
    n = sum(global_counts.values())
    ccum = gcum = 0
    tot = Fraction(0)
    for v in domain:
        ccum += class_counts.get(v, 0)
        gcum += global_counts[v]
        tot += abs(Fraction(ccum, nc) - Fraction(gcum, n))
    return tot / (len(domain) - 1)


def test_t_closeness_matches_fraction_emd(spark):
    rng = random.Random(11)
    rows = []
    for cls in ("a", "b", "c"):
        for _ in range(rng.randint(40, 80)):
            skew = {"a": 0, "b": 3, "c": 0}[cls]
            rows.append(Row(q=cls, s=rng.randint(0, 5) + skew))
    out = {r.q: r for r in t_closeness_audit(
        spark.createDataFrame(rows), quasi_cols=["q"], sensitive_col="s",
        t_num=15, t_den=100,
    ).collect()}
    global_counts: dict[int, int] = {}
    per: dict[str, dict[int, int]] = {}
    for r in rows:
        global_counts[r.s] = global_counts.get(r.s, 0) + 1
        cc = per.setdefault(r.q, {})
        cc[r.s] = cc.get(r.s, 0) + 1
    for cls, counts in per.items():
        emd = _brute_emd(counts, global_counts)
        assert abs(out[cls].emd - float(emd)) < 1e-6, cls
        assert out[cls].violates_t == (emd > Fraction(15, 100)), cls
        assert out[cls].n_class == sum(counts.values())
    # the shifted class "b" must violate; a uniform-ish one must not
    assert out["b"].violates_t is True


def test_t_closeness_identical_distribution_is_zero(spark):
    """A class distributed exactly like the global mix has EMD 0."""
    rows = []
    for cls in ("p", "q"):
        for v in (1, 2, 3):
            rows += [Row(q=cls, s=v)] * 10
    out = t_closeness_audit(
        spark.createDataFrame(rows), quasi_cols=["q"], sensitive_col="s",
        t_num=15, t_den=100,
    ).collect()
    assert all(r.emd == 0.0 and r.violates_t is False for r in out)
