"""Doc-drift gate: the self-reported counts in README.md / docs/
SCALING.md are DERIVED here from the actual entry-point surfaces, so
adding a query without updating the docs fails CI instead of shipping
stale numbers (round-1 advice)."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _surface():
    import __spark_entry__ as entry
    import bench

    q = entry.queries()
    o = entry.oracle_sql()
    return len(q), len(o), len(q) - len(o), len(bench.HEADLINE)


def test_readme_counts_match_entry_surface():
    n_q, n_oracle, n_rows_only, n_headline = _surface()
    text = (ROOT / "README.md").read_text()

    m = re.search(r"\((\d+) queries, (\d+) value-hash", text)
    assert m, "README lost its '(N queries, M value-hash' summary line"
    assert int(m.group(1)) == n_q
    assert int(m.group(2)) == n_oracle

    m = re.search(r"(\d+) rows-only entries", text)
    assert m, "README lost its rows-only count"
    assert int(m.group(1)) == n_rows_only

    m = re.search(r"headline timings \((\d+) queries", text)
    assert m, "README lost its headline-query count"
    assert int(m.group(1)) == n_headline

    m = re.search(r"on all (\d+) queries", text)
    assert m, "README lost its check_oracle coverage line"
    assert int(m.group(1)) == n_q

    # the record sentence is pinned to the committed sf0.1 record
    detail = _sf01_record()
    m = re.search(
        r"Latest committed record: ([\d.]+)s for (\d+) queries", text
    )
    assert m, "README lost its 'Latest committed record' sentence"
    assert abs(float(m.group(1)) - detail["total_sec"]) < 0.1, (
        m.group(1), detail["total_sec"]
    )
    assert int(m.group(2)) == detail["n_queries"]


def test_scaling_md_counts_match_entry_surface():
    n_q, n_oracle, _, _ = _surface()
    text = (ROOT / "docs" / "SCALING.md").read_text()
    m = re.search(r"(\d+) of\s*\n?(\d+) entry queries value-hash match", text)
    assert m, "SCALING.md lost its oracle-coverage sentence"
    assert int(m.group(1)) == n_oracle
    assert int(m.group(2)) == n_q


def test_every_oracle_query_exists():
    """Registry invariants: unique names in ascending qNN order, and
    oracle_sql() iterating in the same order as queries()."""
    import __spark_entry__ as entry

    q, o = entry.queries(), entry.oracle_sql()
    assert set(o) <= set(q), f"oracles without queries: {sorted(set(o) - set(q))}"
    names = list(q)
    nums = [int(n[1:].split("_", 1)[0]) for n in names]
    assert len(set(nums)) == len(nums), "query numbers must be unique"
    assert nums == sorted(nums), "queries() must be in ascending qNN order"
    assert list(o) == [n for n in names if n in o]


def test_bench_headline_covers_registry_or_names_reason():
    """Round-6 verdict item 7: HEADLINE covers 169 of 248 registered
    queries; the exclusion rule must be an explicit per-query map, not
    prose.  Every registered query is either benched or in
    HEADLINE_SKIP with a reason — and when the reason names a sibling
    query as the shape's timer, that sibling must itself be benched."""
    import re as _re

    import __spark_entry__ as entry
    import bench

    reg = set(entry.queries())
    hl = set(bench.HEADLINE)
    skip = bench.HEADLINE_SKIP
    assert hl <= reg, sorted(hl - reg)
    assert hl.isdisjoint(skip), sorted(hl & set(skip))
    assert hl | set(skip) == reg, {
        "unaccounted": sorted(reg - hl - set(skip)),
        "stale_skip": sorted(set(skip) - reg),
    }
    hl_nums = {n.split("_", 1)[0] for n in hl}
    for name, reason in skip.items():
        assert reason.strip(), name
        for ref in _re.findall(r"\bq\d+\b", reason):
            assert ref in hl_nums, (name, ref, "names an un-benched sibling")


def _sf01_record() -> dict:
    """The committed sf0.1 bench record (bench.py writes one record per
    scale); the prose and threshold guards below read it."""
    return json.loads((ROOT / "BENCH_DETAIL_sf0.1.json").read_text())


def _expensive_threshold(detail: dict) -> float:
    """The ≥2 s 'expensive query' bar, jitter-normalized (round-8
    ADVICE): scale the bar by the sched_20job canary
    (scheduler-jitter drift, committed-record reference 1.18 s) so a
    jitterier record raises the bar in proportion — a genuinely new
    ≥2 s query still trips it."""
    ref_sched = 1.18
    sched = (detail.get("canary") or {}).get("sched_20job", ref_sched)
    return 2.0 * max(1.0, sched / ref_sched)


def test_every_expensive_bench_query_has_scale_probe():
    """README claims every query ≥2 s in the committed sf0.1 record
    carries an isolated 10× scale probe in docs/SCALING.md.  Guard the
    claim: read the sf0.1 bench record, find every ≥2 s query, and
    require a SCALING.md mention."""
    detail = _sf01_record()
    thr = _expensive_threshold(detail)
    scaling = (ROOT / "docs" / "SCALING.md").read_text()
    missing = [
        name
        for name, sec in detail["queries"].items()
        if sec >= thr and name.split("_", 1)[0] not in scaling
    ]
    assert not missing, missing


def test_check_oracle_strict_mode_sees_sub_round9_drift():
    """tools/check_oracle.py --strict is the local form of the
    driver's exact value hash: the default round-9 normalize MUST
    collapse a 1-ulp cross-engine difference (so green history stays
    comparable) while strict mode MUST expose it (the q240 failure
    class that round-9 compare let through in round 10)."""
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import normalize

    a = 1 / 3
    b = 0.33333333333333326  # 2 ulp below — the q210 DECIMAL(18,17) artifact
    default_a, _ = normalize([[a]], ["v"])
    default_b, _ = normalize([[b]], ["v"])
    assert default_a == default_b
    strict_a, _ = normalize([[a]], ["v"], strict=True)
    strict_b, _ = normalize([[b]], ["v"], strict=True)
    assert strict_a != strict_b
    # NaN canonicalizes identically in both modes (NaN != NaN would
    # otherwise flunk every query with a legitimate NaN output)
    nan, _ = normalize([[float("nan")]], ["v"], strict=True)
    assert nan == [("NaN",)]
    # columns are compared order-insensitively: same driver semantics
    rows, cols = normalize([[1, 2]], ["b_col", "a_col"], strict=True)
    assert cols == ["a_col", "b_col"] and rows == [("2", "1")]


def test_bench_force_computes_every_output_column(spark):
    """bench.force (shared with tools/profile_queries.py) evaluates
    every output column: a ``.count()`` prunes the aggregate below and
    never raises."""
    import pytest
    from pyspark.sql import functions as F

    import bench

    df = spark.range(3).groupBy().agg(
        F.max(F.raise_error(F.lit("column forced"))).alias("x")
    )
    assert df.count() == 1
    with pytest.raises(Exception, match="column forced"):
        bench.force(df)
