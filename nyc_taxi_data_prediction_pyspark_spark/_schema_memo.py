"""Parquet schema memo: read a local Parquet path with a schema the
engine already knows instead of inferring it again.

``spark.read.parquet(path)`` launches a Spark job to read footers on
every call; ``spark.read.schema(s).parquet(path)`` launches none.  The
memo maps a path's real location to the schema last inferred (or
written) there, stamped with

- every file under the path: relative name, size and ``mtime_ns``, so
  a rewrite, an added or a removed file makes the next read infer again;
- the session confs that change what inference returns (below), so a
  schema inferred under one setting is never served under another.

Paths that are not local files or directories (remote URIs) are always
inferred.  The memo keeps one entry per path; two threads that miss
at once both infer, and either result is valid for the stamp it holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# confs that change the StructType Parquet inference returns
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

_MEMO: dict[str, tuple[tuple, StructType]] = {}


def _files(real: str) -> tuple:
    if os.path.isfile(real):
        st = os.stat(real)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _, names in os.walk(real):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out.append((os.path.relpath(p, real), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _stamp(spark: SparkSession, path: str) -> tuple[str, tuple] | None:
    """(real path, stamp), or None when ``path`` is not local."""
    if not os.path.exists(path):
        return None
    real = os.path.realpath(path)
    confs = tuple(spark.conf.get(k, None) for k in INFERENCE_CONFS)
    return real, (_files(real), confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, without the inference job when the
    memo holds a schema for the same files under the same confs."""
    key = _stamp(spark, path)
    if key is None:
        return spark.read.parquet(path)
    real, stamp = key
    hit = _MEMO.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _MEMO[real] = (stamp, df.schema)
    return df


def remember(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record ``schema`` for the files just written at ``path``."""
    key = _stamp(spark, path)
    if key is not None:
        real, stamp = key
        _MEMO[real] = (stamp, schema)
