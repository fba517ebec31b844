"""Testdata catalog: load the driver's parquet tables and pin the
session semantics every query depends on.

The driver may hand us an arbitrarily-configured SparkSession, so the
invariants the oracle comparison needs (UTC naive-timestamp semantics,
ANSI off so casts behave like the reference's permissive Snowflake
loads) are (re)asserted here at load time rather than assumed from
session.get_spark().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._schema_memo import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pin_session(spark: SparkSession) -> SparkSession:
    """Set runtime-mutable confs that correctness depends on."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's events table has shipped with BOTH TIMESTAMP(NANOS)
    # and TIMESTAMP(MICROS) physical types across testdata generations.
    # nanosAsLong makes the NANOS case readable (as ns-since-epoch
    # longs, converted back in _nanos_to_ts); MICROS files read as
    # TimestampType directly and need no conversion.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # AQE is safe to flip at runtime and is our 100 TB posture default.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Split small files finely so narrow map stages parallelize: the
    # testdata tables are single ≤11 MB files, which the 128 MB default
    # would scan as ONE task regardless of cores. This knob scales with
    # the data: at 100 TB the default (128 MB) is correct — set it per
    # deployment, not per query.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
    # AQE coalesces by shuffle *input* bytes; stages whose per-row
    # output fans out (pair expansion, explode) starve on the 64 MB
    # default at this data scale. 1 MB keeps post-shuffle stages wide.
    # Scale-dependent like maxPartitionBytes: revert to default at TB+.
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(1024 * 1024))
    return spark


def _nanos_to_ts(df: DataFrame) -> DataFrame:
    """Normalize the ts column to plain TimestampType whatever physical
    type this testdata generation shipped: nanos-as-long (floor-divide
    to µs — same truncation DuckDB applies to TIMESTAMP_NS) or
    TIMESTAMP_NTZ (cast under the pinned UTC session zone, which is
    value-preserving and matches DuckDB's naive-timestamp reading;
    epoch-extraction functions like unix_micros reject NTZ, so queries
    need the cast even where wall values already agree)."""
    from pyspark.sql import functions as F

    out = df
    for name, dtype in df.dtypes:
        if name in ("ts",) and dtype == "bigint":
            # integer div — double division would lose precision at 1e18 ns
            out = out.withColumn(name, F.timestamp_micros(F.expr(f"{name} div 1000")))
        elif name in ("ts",) and dtype == "timestamp_ntz":
            out = out.withColumn(name, F.col(name).cast("timestamp"))
    return out


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read testdata table ``name`` under the pinned session.

    Schema inference (one Spark job) runs on the first load of a table
    file and again only after the file changes or one of the Parquet
    inference confs differs (``_schema_memo``); every other load reads
    with the memoized schema and launches no job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    pin_session(spark)
    return _nanos_to_ts(read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
