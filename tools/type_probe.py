"""Cross-engine result-TYPE sweep: for every declared query, compare the
Spark result schema against the DuckDB oracle's Arrow schema.

The hazard class is representation skew between the two engines'
result columns: an integer or double column on one side that is a
DECIMAL on the other (DuckDB's integer ``SUM`` and ``list_sum`` return
HUGEINT, which Arrow carries as decimal128(38,0)), or two DECIMALs of
different precision/scale.  Such a column passes a string or rounded
value compare but fails any type-sensitive hash of the same values.
Integer width skew (int32 vs int64) is tolerated.  The oracle's schema
is read with ``LIMIT 0``, so no oracle runs to completion.

Usage: python tools/type_probe.py [sf_dir] [query ...]
Prints one line per query; exits 1 if any HAZARD rows were found.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

# (spark simpleString, arrow type) pairs that carry the same values
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


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``."""
    from nyc_taxi_data_prediction_pyspark_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_schema(con: duckdb.DuckDBPyConnection, sql: str):
    """The oracle's Arrow result schema, read through LIMIT 0 (no rows)."""
    return con.execute(f"SELECT * FROM ({sql}\n) LIMIT 0").arrow().schema


def hazards(spark_schema, arrow_schema) -> list[tuple[str, str]]:
    """(column, hazard) for each Spark column whose type does not carry
    the oracle's representation; a column the oracle lacks is MISSING."""
    otypes = {f.name: str(f.type) for f in arrow_schema}
    return [
        (f.name, d)
        for f in spark_schema.fields
        if (d := classify(f.dataType.simpleString(), otypes.get(f.name, "MISSING")))
        is not None
    ]


def main() -> None:
    argv = list(sys.argv[1:])
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

    spark = get_spark("type-probe")
    con = connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    red = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"skip {name}: rows-only")
            continue
        try:
            diffs = hazards(fn(spark, sf_dir).schema, oracle_schema(con, oracles[name]))
        except Exception as e:  # noqa: BLE001 — name the query, keep probing
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            red.append(name)
            continue
        if diffs:
            red.append(name)
            print(f"HAZARD {name}: {diffs}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(red)} hazards" + (f": {red}" if red else ""))
    sys.exit(1 if red else 0)


if __name__ == "__main__":
    main()
