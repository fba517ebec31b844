"""Schema memo on the table-load path (``_schema_memo``): a table or
snapshot version whose schema the engine already knows is read without
the Parquet schema-inference job, and never with a schema inferred
from other files or under other inference confs."""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark import _schema_memo
from nyc_taxi_data_prediction_pyspark_spark.catalog import load
from nyc_taxi_data_prediction_pyspark_spark.sources.warehouse import Warehouse

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_launches_no_job(spark, sf_dir):
    load(spark, sf_dir, "lineitem")
    df, n = _jobs(spark, lambda: load(spark, sf_dir, "lineitem"))
    assert n == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    assert df.count() == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()


def test_rewritten_file_is_inferred_again(spark, sf_dir, tmp_path):
    path = tmp_path / "region.parquet"
    src = f"{sf_dir}/region.parquet"
    duckdb.sql(f"COPY (SELECT * FROM '{src}') TO '{path}' (FORMAT parquet)")
    first, n_first = _jobs(spark, lambda: load(spark, str(tmp_path), "region"))
    _, n_second = _jobs(spark, lambda: load(spark, str(tmp_path), "region"))
    assert n_first >= 1  # the counter sees the inference job
    assert n_second == 0

    duckdb.sql(f"COPY (SELECT *, 1 AS extra FROM '{src}') TO '{path}' (FORMAT parquet)")
    again, n_again = _jobs(spark, lambda: load(spark, str(tmp_path), "region"))
    assert n_again >= 1
    assert again.columns == first.columns + ["extra"]
    assert again.schema == spark.read.parquet(str(path)).schema


def test_memo_never_crosses_nanos_setting(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) column infers as bigint with the nanos bridge
    on and is illegal with it off: a schema memoized under one setting
    must not be served under the other."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns"))),
                   tmp_path / "events.parquet", version="2.6")
    path = str(tmp_path / "events.parquet")
    try:
        spark.conf.set(NANOS, "true")
        on = _schema_memo.read_parquet(spark, path).schema
        assert on == spark.read.parquet(path).schema
        assert on["ts"].dataType.typeName() == "long"

        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            _schema_memo.read_parquet(spark, path)

        # the hostile flip before every load: load pins the bridge back
        # on and reads the µs timestamps DuckDB sees
        want = duckdb.sql(f"SELECT CAST(MIN(ts) AS TIMESTAMP) FROM '{path}'").fetchone()[0]
        for _ in range(2):
            spark.conf.set(NANOS, "false")
            ev = load(spark, str(tmp_path), "events")
            assert dict(ev.dtypes)["ts"] == "timestamp"
            assert ev.agg(F.min("ts")).collect()[0][0] == want
    finally:
        spark.conf.set(NANOS, "true")


def test_read_snapshot_of_own_version_skips_inference(spark, sf_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, sf_dir, "orders")
    df = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),  # non-nullable in the written frame
        F.sum("o_totalprice").cast("decimal(18,2)").alias("total"),
        F.max("o_orderdate").alias("last"),
    )
    v1 = wh.snapshot_write("prio", df)
    wh.snapshot_write("prio", df.where(F.col("n") > 0))
    vdir = os.path.join(wh.root, "prio", "_v", f"{v1:06d}")

    for read in (lambda: wh.read_snapshot("prio"), lambda: wh.read_snapshot("prio", v1)):
        got, n = _jobs(spark, read)
        assert n == 0
        assert got.schema == spark.read.parquet(vdir).schema  # nullability included
    assert sorted(wh.read_snapshot("prio", v1).collect()) == sorted(df.collect())

    # a version this process did not write is inferred on its first read
    ext = os.path.join(wh.root, "prio", "_v", "000003")
    df.write.parquet(ext)
    with open(os.path.join(wh.root, "prio", "_current"), "w") as f:
        f.write("3")
    got, n = _jobs(spark, lambda: wh.read_snapshot("prio"))
    assert n >= 1
    assert got.schema == spark.read.parquet(ext).schema


def test_warehouse_read_after_rewrite_skips_inference(spark, sf_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    wh.ensure("o", o)
    wh.merge_load("o", o, ["o_orderkey"])
    got, n = _jobs(spark, lambda: wh.read("o"))
    assert n == 0
    assert got.schema == spark.read.parquet(wh.path("o")).schema
    assert got.count() == o.count()

    # an append adds files the memo has not seen: the next read infers
    wh.append("o", o.limit(5))
    got, n = _jobs(spark, lambda: wh.read("o"))
    assert n >= 1
    assert got.count() == o.count() + 5


def test_fold_store_read_after_stream_skips_inference(spark, sf_dir, tmp_path):
    from nyc_taxi_data_prediction_pyspark_spark.streaming import pipeline as stream

    work = str(tmp_path / "hll")
    stream.hll_streaming_ingest(spark, sf_dir, work, n_arrival_files=2)
    store = os.path.join(work, "store")
    got, n = _jobs(spark, lambda: _schema_memo.read_parquet(spark, store))
    assert n == 0
    assert got.schema == spark.read.parquet(store).schema
