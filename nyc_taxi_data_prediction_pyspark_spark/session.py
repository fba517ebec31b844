"""SparkSession factory.

The reference builds its session ad hoc inside one Airflow task
(reference: dags/etl_spark_historical.py:170-175 — ``local[*]``, no
tuning). Here the session is a shared factory with the knobs that
matter at 100 TB:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) so plans survive scale-up without hand-tuning.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static value a ceiling, not a bet.
- UTC session timezone so naive-timestamp semantics match the
  reference's TIMESTAMP_NTZ warehouse columns (etl_spark_historical.py:52-53)
  and the DuckDB oracle.
- Arrow enabled for every pandas interchange (vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def usable_memory_bytes() -> int:
    """Memory this process may use: physical memory, or the cgroup v2
    ``memory.max`` limit when one is set and smaller."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return total
    return min(total, int(limit)) if limit.isdigit() else total


def driver_memory(usable_bytes: int) -> str:
    """Default driver heap: half of ``usable_bytes`` in whole GiB (at
    least 1g), capped at 48g."""
    return f"{max(1, min(48, usable_bytes // 2 // 2**30))}g"


def get_spark(app_name: str = "nyc-taxi-pyspark-engine", *, cores: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode for tests/bench; the same config block is what we would
    submit cluster-side — nothing here is local-only except ``master``.
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local mode = driver-only JVM: the heap IS the cluster memory.
        # 32 executor threads on a small heap GC-thrash under shuffle
        # load, but a heap near the host's memory gets the JVM killed:
        # half the usable memory, capped at 48g (SPARK_GRAFT_DRIVER_MEM
        # overrides it per deployment).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(usable_memory_bytes()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
