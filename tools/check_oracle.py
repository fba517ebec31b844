"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at a given SF,
compare row count, column names/order-insensitive values.

Default float compare rounds to 9 decimals — strictly WEAKER than the
driver's exact value hash (that gap is how q240's 1-ulp ln boundary
flip passed locally in round 10 while failing the driver).  Pass
--strict to compare exact float reprs instead: any cross-engine digit
anywhere in the double flunks, which is at least as strict as the
driver's hash on round-N-quantized outputs.

Pass --hostile to re-apply a hostile session configuration (non-UTC
timezone, AQE off, nanos bridge off) BEFORE every query: the driver
hands the engine an arbitrarily configured SparkSession, and
catalog.load's pin_session must recover the correctness-bearing confs
each time — this flag proves it per query instead of sampling three
members in the hostile-session test.

Usage: python tools/check_oracle.py [--strict] [--hostile] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def normalize(rows, cols, strict=False):
    """Sort columns by name, canonicalize values, sort rows.

    strict=True compares the exact float repr (shortest round-trip
    string, i.e. every bit of the double) instead of round-9 — the
    driver's value hash sees exact values, so only this mode can
    catch 1-ulp cross-engine drift in round-6 outputs.
    """
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif not strict:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in idx]


HOSTILE_CONFS = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
}


def main():
    argv = list(sys.argv[1:])
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    hostile = "--hostile" in argv
    if hostile:
        argv.remove("--hostile")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark
    from nyc_taxi_data_prediction_pyspark_spark.catalog import TABLES

    spark = get_spark("oracle-check")
    # engine-version provenance (round-12 verdict #4): every strict
    # sweep names the engines it exonerated — a different duckdb in
    # another environment voids the attestation (see q240's history).
    from bench import engine_versions

    print("versions:", engine_versions())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if hostile:
            for k, v in HOSTILE_CONFS.items():
                spark.conf.set(k, v)
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)" + (" EMPTY!" if not srows else ""))
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s_rows = [[row[c] for c in scols] for row in srows]
        sn, sc = normalize(s_rows, scols, strict)
        on, oc = normalize(orows, ocols, strict)
        if sc != oc:
            failures.append(name)
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            continue
        if len(sn) != len(on):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sn)} oracle={len(on)}")
            continue
        if sn != on:
            diffs = [(a, b) for a, b in zip(sn, on) if a != b]
            failures.append(name)
            print(f"FAIL {name}: {len(diffs)} differing rows; first: spark={diffs[0][0]} oracle={diffs[0][1]}")
            continue
        print(f"ok   {name}: {len(sn)} rows match")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
