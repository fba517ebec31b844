"""Cross-engine result-TYPE sweep: for every declared query, compare the
Spark result schema against the DuckDB oracle's Arrow schema.

Round-14 root-cause instrument for the q240/q305/q306 driver reds: the
driver's value hash is type-representation-sensitive where local
check_oracle's str() compare is not.  Probing the full round-13 driver
head showed perfect separation — the only queries whose oracle emits a
DECIMAL column where Spark emits an integer (DuckDB ``list_sum`` returns
HUGEINT -> arrow decimal128(38,0)) are exactly the three hash-red ones,
while int32/int64 width skew (q101) is green.  So the fixable hazard
class is: integer-vs-decimal (or double-vs-decimal) representation skew,
which survives byte-identical data and identical engine versions.

Usage: python tools/type_probe.py [sf_dir] [query ...]
Prints one line per query; exits 1 if any HAZARD rows were found.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

# type pairs observed on driver-green queries => tolerated by the hash
BENIGN = {
    ("int", "int32"), ("int", "int64"), ("bigint", "int64"),
    ("bigint", "int32"), ("double", "double"), ("string", "string"),
    ("float", "float"), ("boolean", "bool"), ("date", "date32[day]"),
    ("timestamp", "timestamp[us]"), ("timestamp_ntz", "timestamp[us]"),
    ("smallint", "int16"), ("tinyint", "int8"),
}


def classify(stype: str, otype: str) -> str | None:
    if (stype, otype) in BENIGN:
        return None
    if stype.startswith("decimal") and otype.startswith("decimal"):
        sps = stype[stype.index("(") :]
        ops = otype[otype.index("(") :].replace(" ", "")
        return None if sps == ops else f"decimal-scale {stype} vs {otype}"
    return f"{stype} vs {otype}"


def main() -> None:
    argv = list(sys.argv[1:])
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from nyc_taxi_data_prediction_pyspark_spark.catalog import TABLES
    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

    spark = get_spark("type-probe")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    hazards = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"skip {name}: rows-only")
            continue
        try:
            stypes = {
                f.name: f.dataType.simpleString()
                for f in fn(spark, sf_dir).schema.fields
            }
            tbl = con.execute(oracles[name]).arrow()
            otypes = {f.name: str(f.type) for f in tbl.schema}
        except Exception as e:  # noqa: BLE001 — name the query, keep probing
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            hazards.append(name)
            continue
        diffs = [
            (c, d)
            for c in stypes
            if (d := classify(stypes[c], otypes.get(c, "MISSING"))) is not None
        ]
        if diffs:
            hazards.append(name)
            print(f"HAZARD {name}: {diffs}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(hazards)} hazards" + (f": {hazards}" if hazards else ""))
    sys.exit(1 if hazards else 0)


if __name__ == "__main__":
    main()
