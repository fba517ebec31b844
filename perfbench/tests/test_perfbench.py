"""Checks of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, resolve  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    d = tmp_path_factory.mktemp("tables")
    datagen.write_tables(str(d), seed=3, sf=0.001)
    return str(d)


def test_result_line_schema():
    line = run.result_line(True, 12, 0, {"setup_s": 1.5, "pass_s": 2.25}, {"setup_s": "s", "pass_s": "s"})
    rec = json.loads(line)
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] is True and rec["attempted"] == 12 and rec["failed"] == 0
    for m in rec["metrics"].values():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], float)


def test_metric_names_and_units_are_well_formed():
    for units in (run.END_TO_END_UNITS, run.PER_LAYER_UNITS):
        for name, unit in units.items():
            assert NAME_RE.match(name), name
            assert UNIT_RE.match(unit), (name, unit)


def test_spec_matches_the_metrics_the_runner_prints(spec):
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_workload_query_is_registered_with_an_oracle():
    import __spark_entry__ as entry

    registry, oracles = entry.queries(), entry.oracle_sql()
    for wl in WORKLOADS.values():
        names = resolve(wl.queries, registry)
        assert len(names) == len(set(names)) == len(wl.queries)
        for name in names:
            assert name in oracles, f"{wl.name}: {name} has no oracle_sql"


def test_inputs_are_a_function_of_the_seed():
    a = datagen.tables(7, 0.001)
    b = datagen.tables(7, 0.001)
    c = datagen.tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == c["lineitem"].num_rows == 6000


def test_perturbed_result_fails_the_output_check(tiny):
    import __spark_entry__ as entry
    from nyc_taxi_data_prediction_pyspark_spark.catalog import TABLES

    con = oracle.connect(tiny, TABLES)
    cols, rows = oracle.oracle_rows(con, entry.oracle_sql()["q01_pricing_summary"])
    assert rows and oracle.compare(cols, rows, cols, rows) is None
    # same rows in another order and with 1-ulp float noise still match
    jitter = [tuple(v * (1 + 1e-15) if isinstance(v, float) else v for v in r) for r in rows]
    assert oracle.compare(cols, jitter[::-1], cols, rows) is None

    i = next(j for j, v in enumerate(rows[0]) if isinstance(v, (int, float)) and v)
    changed = [tuple(v * 1.001 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert oracle.compare(cols, changed, cols, rows) is not None
    assert oracle.compare(cols, rows[1:], cols, rows) is not None
    assert oracle.compare(cols, rows + rows[:1], cols, rows) is not None
    renamed = [cols[0] + "_x"] + list(cols[1:])
    assert oracle.compare(renamed, rows, cols, rows) is not None


def test_struct_and_binary_values_compare_by_value():
    from pyspark.sql import Row

    assert oracle.compare(["s"], [(Row(x=1, y=2.0),)], ["s"], [({"y": 2.0, "x": 1},)]) is None
    assert oracle.compare(["s"], [(Row(x=1, y=2.0),)], ["s"], [({"y": 2.5, "x": 1},)]) is not None
    assert oracle.compare(["b"], [(bytearray(b"ab"),)], ["b"], [(b"ab",)]) is None


def test_tail_quantile_leaves_ten_samples_beyond_it():
    assert run.tail_quantile(200) == 0.9
    for n in (12, 20, 40, 99):
        q = run.tail_quantile(n)
        assert 0.5 <= q <= 0.9
        if q > 0.5:
            values = list(range(n))
            assert sum(v > run.quantile(values, q) for v in values) >= 10


def test_a_job_ledger_that_does_not_sum_fails_the_query():
    bench = run.Bench(args=None, workload=None, work="unused")
    bench.check_ledger({"query": "q1", "pass": 2, "total": 5, "by_layer": {"build": 2, "exec": 3}})
    assert bench.failures == [] and bench.ledger[-1]["sums"] is True
    bench.check_ledger({"query": "q1", "pass": 3, "total": 6, "by_layer": {"build": 2, "exec": 3}})
    assert bench.ledger[-1]["sums"] is False
    assert [(f["query"], f["pass"]) for f in bench.failures] == [("q1", 3)]


def test_seed_permutes_the_query_order_only():
    names = [f"q{i}" for i in range(12)]
    a, b = run.pass_order(names, 1, 1), run.pass_order(names, 2, 1)
    assert sorted(a) == sorted(b) == sorted(names) and a != b
    assert run.pass_order(names, 1, 1) == a
