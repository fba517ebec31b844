"""Structured Streaming pipelines (SURVEY.md §2.9).

The reference approximates streaming with hourly scheduled
micro-batches + idempotent MERGE loads (reference:
dags/etl_spark_historical.py:30, :303-333; dags/weather_realtime_etl.py:29).
Spark-native mappings:

- T1/T5: ``trigger(availableNow=True)`` — process everything present,
  then stop; repeated scheduled runs ≙ the reference's hourly DAG with
  ``catchup=False``.
- T2: append-mode single-row feeds.
- T3/T6: idempotence via watermark + dropDuplicates on the merge key,
  or ``foreachBatch`` folds into a persistent store (``fold_stream``) —
  checkpoint + ledger-guarded store = effective exactly-once.
- tumbling-window aggregation (F.window) — the hourly bucketing the
  declared trips⋈weather join needs.

``fold_stream`` is the one driver of the seven store-folding ingests
(q104, q114, q200, q220, q245, q264, q277). Each operator supplies its
split arrivals, a per-batch ``fold(batch, prev_store_or_None)`` and its
readout; the driver owns the rest:

- trigger order: arrivals are written once, one part file per
  partition, with mtimes stamped in part-name order, so triggers
  deliver partitions in order (the file source lists by mtime);
- ledger: ``_applied.json`` inside the store dir holds a watermark plus
  straggler ids; an applied batch id is skipped, which makes the
  additive folds (q114, q220) exactly-once and costs nothing for the
  idempotent ones;
- swap: each fold is written to a staged dir with its ledger and
  published by ``sources.warehouse.swap_dir`` (rename-aside), so a
  crash never splits data from ledger or leaves no complete copy;
- schema memo: the store is read through ``_schema_memo.read_parquet``
  and the written schema is remembered after each swap, so no store
  read runs a schema-inference job.

Local testing: parquet source dir + memory/parquet sink,
``availableNow`` + awaitTermination, per the public streaming docs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .._schema_memo import read_parquet, remember
from ..sources.warehouse import swap_dir

# The driver's events parquet has shipped with BOTH TIMESTAMP(NANOS)
# (read as long via spark.sql.legacy.parquet.nanosAsLong, ÷1000 to µs)
# and plain TIMESTAMP(MICROS) physical types across testdata
# generations — the streaming read path detects the unit from parquet
# metadata (one driver-side footer read) and picks the right schema.
def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


EVENTS_SCHEMA = _events_schema(T.LongType())  # nanos-as-long variant
EVENTS_SCHEMA_TS = _events_schema(T.TimestampType())


def events_ts_unit(path: str, glob: str = "*.parquet") -> str:
    """'ns' or 'us': physical parquet unit of the events ts column —
    a driver-side footer read, no Spark job."""
    import glob as g
    import os

    import pyarrow.parquet as pq

    f = path
    while not os.path.isfile(f):
        # a match may itself be a parquet DIRECTORY (Spark-written
        # multi-part dataset) — descend until we hold a real file
        matches = sorted(g.glob(os.path.join(f, glob))) or sorted(
            g.glob(os.path.join(f, "part-*.parquet"))
        )
        if not matches:
            raise FileNotFoundError(f"no parquet matching {glob!r} under {f}")
        f = matches[0]
    meta = pq.ParquetFile(f)
    sch = meta.schema
    for i in range(len(sch.names)):
        col = sch.column(i)
        if col.name == "ts" and col.physical_type == "INT96":
            # legacy INT96 (Spark's default parquet writer output): read
            # natively as TimestampType — the nanosAsLong escape hatch is
            # only for INT64 TIMESTAMP(NANOS), and would fail on INT96
            return "us"
    return "ns" if "[ns" in str(meta.schema_arrow.field("ts").type) else "us"


def read_event_stream(spark: SparkSession, base_dir: str, glob: str = "events.parquet") -> DataFrame:
    """File-source stream over the events parquet (schema pinned —
    streaming sources cannot infer; base path must be a directory, the
    file is selected with pathGlobFilter). Always yields TimestampType
    ``ts`` (µs) regardless of the file's physical unit. The events
    "file" may itself be a Spark-written parquet DIRECTORY (the scale
    probe's 10x replica is one) — then stream that directory's part
    files instead."""
    import os

    sub = os.path.join(base_dir, glob)
    if os.path.isdir(sub):
        base_dir, glob = sub, "*.parquet"
    unit = events_ts_unit(base_dir, glob)
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", glob)
            .parquet(base_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(EVENTS_SCHEMA_TS)
        .option("pathGlobFilter", glob)
        .parquet(base_dir)
    )


def windowed_counts(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window demand counts with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_window_counts(
    events: DataFrame,
    *,
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming SESSION windows (F.session_window): per-key dynamic
    windows that extend while events keep arriving within ``gap`` and
    close ``gap`` after the last one — the native stateful form of
    batch gap-island sessionization (q36). State per key is the open
    session only; the watermark closes sessions and releases state, so
    memory is rate x (gap + watermark), independent of stream length.
    session_end is last_ts + gap (Spark's session_window contract) —
    mirrored exactly by the batch-SQL island rewrite, which is the
    oracle: a STREAMING stateful operator whose output value-hash
    matches batch SQL."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, key: Sequence[str], *, watermark: str = "2 hours") -> DataFrame:
    """T3: duplicate-safe stream via watermark + dropDuplicates on the
    merge key — the streaming face of the J1 MERGE."""
    return events.withWatermark("ts", watermark).dropDuplicates(list(key))


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair right-side events
    that occur within ``within`` AFTER the left event, same ``key``.

    Both watermarks plus the time-range condition bound the join state
    on BOTH sides — without the range predicate a stream-stream join
    must buffer one side forever. State size ≈ input rate × (watermark
    + within) per side, independent of total stream length — the
    property that keeps this runnable on an unbounded 100 TB/day feed.

    ``how="leftOuter"`` emits unmatched left rows (NULL right columns)
    once the watermark passes their join window — the "view with no
    purchase" attribution row. Outer emission is watermark-driven: the
    engine can only declare "no match will ever come" after event-time
    ``left_ts + within`` is below the watermark, so unmatched rows
    surface with watermark latency (in availableNow runs the closing
    no-data micro-batch flushes them — exactly-once either way).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def run_available_now(
    stream_df: DataFrame,
    *,
    checkpoint: str,
    sink_table: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming frame to completion over current data
    (availableNow) into an in-memory sink table, synchronously.

    ``state_partitions`` sizes the stateful shuffle for THIS query:
    stateful operators (stream-stream join, windowed agg) instantiate
    one state store per shuffle partition per side and pay a commit per
    store per micro-batch, and the count is frozen into the checkpoint
    at first start — so it must be sized to expected STATE volume, not
    inherited from the batch default (AQE cannot resize it). A small
    local run with near-empty state wants a handful; a 100 TB/day feed
    wants thousands. The session conf is set only for the start and
    restored after termination."""
    s = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = s.conf.get(conf_key) if state_partitions is not None else None
    if state_partitions is not None:
        s.conf.set(conf_key, str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(sink_table)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_parts is not None:
            s.conf.set(conf_key, old_parts)


def foreach_batch_merge(
    stream_df: DataFrame,
    *,
    checkpoint: str,
    merge_fn: Callable[[DataFrame, int], None],
) -> None:
    """T6: exactly-once-effective sink — every micro-batch goes through
    the idempotent batch merge (operators/merge.py via warehouse)."""
    q = (
        stream_df.writeStream.foreachBatch(merge_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# the applied-batch ledger rides INSIDE the store's parquet dir: the
# `_` prefix hides it from Spark's file listing, and the swap's single
# directory rename publishes it together with the data
LEDGER = "_applied.json"

Fold = Callable[[DataFrame, DataFrame | None], DataFrame]


def read_ledger(store: str) -> tuple[int, set]:
    """The store's applied-batch ledger: (watermark, straggler ids).
    Every batch id <= watermark has been applied, and so has each
    straggler above it. (-1, set()) before the first batch."""
    path = os.path.join(store, LEDGER)
    if not os.path.exists(path):
        return -1, set()
    with open(path) as f:
        led = json.load(f)
    return int(led["watermark"]), set(led["stragglers"])


def fold_batch(store: str, fold: Fold, batch: DataFrame, batch_id: int) -> None:
    """One micro-batch of ``fold_stream``: skip the batch if the ledger
    has it, else write ``fold(batch, previous store or None)`` with the
    updated ledger to a staged dir and swap it in.

    The ledger is compacted: after each fold the contiguous prefix of
    applied ids folds into the watermark, so in-order delivery keeps it
    one integer (an O(1) driver file read per batch, never a Spark job),
    and out-of-order replay leaves stragglers until the gap closes."""
    wm, ids = read_ledger(store)
    if batch_id <= wm or batch_id in ids:
        return  # redelivered batch: already folded in
    spark = batch.sparkSession
    prev = read_parquet(spark, store) if os.path.exists(store) else None
    new = fold(batch, prev)
    ids.add(batch_id)
    while wm + 1 in ids:
        wm += 1
        ids.discard(wm)
    tmp = f"{store}_tmp_{uuid.uuid4().hex[:8]}"
    new.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, LEDGER), "w") as f:
        json.dump({"watermark": wm, "stragglers": sorted(ids)}, f)
    swap_dir(store, tmp)
    remember(spark, store, new.schema)


def fold_stream(arrivals: DataFrame, work_dir: str, fold: Fold) -> DataFrame:
    """Stream ``arrivals`` one part file per trigger through ``fold``
    into a store under ``work_dir``; return the final store.

    ``arrivals`` comes already split: its partitions become the part
    files, and their mtimes are stamped in part-name order so the file
    source triggers them in partition order (it lists by mtime, and a
    parallel write finishes files in any order).  ``work_dir`` is reset
    first, so re-runs are deterministic."""
    if os.path.exists(work_dir):
        shutil.rmtree(work_dir)
    src = os.path.join(work_dir, "arrivals")
    store = os.path.join(work_dir, "store")
    arrivals.write.mode("overwrite").parquet(src)
    base = time.time() - 3600
    parts = sorted(f for f in os.listdir(src) if not f.startswith(("_", ".")))
    for i, name in enumerate(parts):
        os.utime(os.path.join(src, name), (base + i, base + i))
    spark = arrivals.sparkSession
    stream = spark.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1).parquet(src)
    foreach_batch_merge(
        stream,
        checkpoint=os.path.join(work_dir, "ckpt"),
        merge_fn=lambda batch, batch_id: fold_batch(store, fold, batch, batch_id),
    )
    return read_parquet(spark, store)


def ingest_corpus_incrementally(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Streaming corpus ingestion with exact dedup: documents arrive in
    micro-batches (one file per trigger) and fold into a fingerprint
    store of (doc_fp, keep_id = min doc_id seen). The batch-boundary-
    invariance contract: the final store is IDENTICAL to batch q13
    dedup no matter how arrivals are split or redelivered, because the
    per-fingerprint merge is MIN — idempotent and commutative, so
    foreachBatch's at-least-once delivery still converges to the
    exactly-once answer (T3/T6, the J1 MERGE discipline applied to a
    corpus feed).

    Per-batch cost is O(|store| + |batch|) — the store re-aggregates
    each trigger, fine for a compaction-style cadence; a per-key state
    store (applyInPandasWithState, the q42 pattern) is the low-latency
    alternative when triggers are seconds apart.
    """
    from ..catalog import load
    from ..operators.text import fingerprint

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        upd = fingerprint(batch).groupBy("doc_fp").agg(F.min("doc_id").alias("keep_id"))
        if prev is None:
            return upd
        return prev.unionByName(upd).groupBy("doc_fp").agg(F.min("keep_id").alias("keep_id"))

    docs = load(spark, sf_dir, "documents")
    return fold_stream(docs.repartition(n_arrival_files), work_dir, fold)


def rollup_fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
    """The per-batch fold of ``maintain_hourly_rollup``: the batch's
    partial (hour, event_type) aggregate, re-aggregated with the
    previous store.

    The merged frame is coalesced to 4 tasks: the rollup is bounded by
    the (hour, event_type) domain — metadata-sized by design — and the
    batch partial aggregate map-side-combines down to that domain per
    task before the exchange, so a handful of reducers is the right
    number at any input scale (AQE, which would pick this, is disabled
    inside foreachBatch)."""
    partial = batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
    )
    if prev is None:
        return partial.coalesce(4)
    return (
        prev.unionByName(partial)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("value_sum").cast("decimal(18,4)").alias("value_sum"),
        )
        .coalesce(4)
    )


def maintain_hourly_rollup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Incrementally maintained materialized rollup (the hypertable
    continuous-aggregate pattern): events arrive in micro-batches and
    fold into a persistent (hour, event_type) → (n, decimal sum)
    aggregate table, so readers query the small rollup instead of
    re-scanning the raw feed.

    SUM/COUNT are additive — a batch contributes its PARTIAL aggregate
    and the store re-aggregates — but additive merges are NOT
    idempotent under foreachBatch's at-least-once redelivery (unlike
    q104's MIN-merge). Idempotence comes from the driver's applied-batch
    ledger, published with the data by the store swap's one rename: a
    redelivered batch is recognized and skipped, and a crash cannot
    split data from ledger. The maintained table is IDENTICAL to the
    batch group-by however arrivals are split or redelivered
    (batch-boundary invariance + redelivery invariance, both tested).

    Per-trigger cost is O(|store| + |batch|) — the rollup is bounded
    by the (hour, type) domain, not the event count, so the re-agg
    stays metadata-sized at any feed volume; sums are kept as DECIMAL
    in the store (order-independent, exactly mergeable) and cast to
    double only at the read boundary.
    """
    # arrivals are written NORMALIZED (TimestampType µs, whatever the
    # source file's physical unit) so the per-batch fold never
    # re-converts — catalog.load handles ns-vs-µs detection.
    from ..catalog import load

    raw = load(spark, sf_dir, "events")
    store = fold_stream(raw.repartition(n_arrival_files), work_dir, rollup_fold)
    return store.select(
        "hour",
        "event_type",
        "n",
        F.col("value_sum").cast("double").alias("value_sum"),
    )


def ingest_embeddings_incrementally(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    n_arrival_files: int = 4,
    threshold: float = 0.93,
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Streaming SEMANTIC dedup ingest: embedding vectors arrive in
    micro-batches and fold into a store of (pid, bucket, dropped) —
    the streaming form of ``dedup.semdedup``'s drop rule restricted to
    sign-LSH buckets: a vector is dropped iff SOME lower-id vector in
    its bucket is ε-close (cosine ≥ ``threshold``), no matter when
    either side arrived.

    Invariance argument (the T3/T6 discipline, the corpus-ingest MIN
    argument with OR for MIN): dropped(v) = OR over the pair set
    {(u,v): u<v, bucket(u)=bucket(v), cos ≥ t} — OR is idempotent,
    commutative and monotone, and each pair is (re)discovered in every
    batch that delivers either endpoint, so ANY arrival split or
    at-least-once redelivery converges to the identical store; LATE
    lower-id arrivals retroactively flip earlier survivors, which a
    keep-only store could never do (that is why the store holds every
    seen vector with its flag, not just the kept ones).

    Per-batch cost: |batch| × its bucket-mates in the store (the LSH
    block bound) + one store rewrite — the compaction-cadence shape of
    ``ingest_corpus_incrementally``; per-key state
    (applyInPandasWithState) is the low-latency alternative. Returns
    the final store (pid, bucket, dropped)."""
    from ..catalog import load
    from ..functions.vectors import as_double, cosine
    from ..operators.similarity import lsh_buckets, random_hyperplanes

    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    planes = random_hyperplanes(dim, n_planes, seed)

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        b = (
            lsh_buckets(batch, planes)
            .select(
                F.col("vec_id").alias("pid"),
                "bucket",
                as_double("embedding").alias("vec"),
            )
        )
        if prev is None:
            prev = batch.sparkSession.createDataFrame(
                [], "pid long, bucket long, vec array<double>, dropped boolean"
            )
        allv = prev.unionByName(b.withColumn("dropped", F.lit(False)))
        # re-aggregate redelivered pids (MIN on dropped=False arrival,
        # OR on any dropped=True fold below keeps this idempotent)
        allv = allv.groupBy("pid", "bucket").agg(
            F.first("vec").alias("vec"), F.max("dropped").alias("dropped")
        )
        # pairs with at least one endpoint in this batch, earlier id
        # drops later id; both directions (a late LOWER id must flip
        # an already-stored survivor)
        e = allv.select(
            F.col("pid").alias("id_e"), F.col("bucket"), F.col("vec").alias("ve")
        )
        l = b.select(
            F.col("pid").alias("id_l"), F.col("bucket"), F.col("vec").alias("vl")
        )
        hit_batch = (  # batch member is the later/dropped side
            e.join(l, "bucket")
            .where(F.col("id_e") < F.col("id_l"))
            .where(cosine(F.col("ve"), F.col("vl")) >= threshold)
            .select(F.col("id_l").alias("pid"))
        )
        hit_store = (  # batch member is the earlier side, store later
            l.select(
                F.col("id_l").alias("id_e2"), "bucket", F.col("vl").alias("ve2")
            )
            .join(
                allv.select(
                    F.col("pid").alias("id_l2"), "bucket", F.col("vec").alias("vl2")
                ),
                "bucket",
            )
            .where(F.col("id_e2") < F.col("id_l2"))
            .where(cosine(F.col("ve2"), F.col("vl2")) >= threshold)
            .select(F.col("id_l2").alias("pid"))
        )
        victims = hit_batch.union(hit_store).distinct().withColumn("__hit", F.lit(True))
        return (
            allv.join(victims, "pid", "left")
            .select(
                "pid",
                "bucket",
                "vec",
                (F.col("dropped") | F.coalesce("__hit", F.lit(False))).alias("dropped"),
            )
        )

    arrivals = emb.repartition(n_arrival_files)
    return fold_stream(arrivals, work_dir, fold).select("pid", "bucket", "dropped")


def holt_state_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    alpha: float = 0.5,
    beta: float = 0.25,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Streaming incremental Holt smoothing: events arrive in
    event-time-ordered micro-batches (one ts-range file per trigger)
    and each batch CONTINUES every user's (level, trend) fold from a
    persistent state store — the streaming twin of
    ``windows.holt_level_trend`` (q212).

    Exactness contract: the state machine applies the IDENTICAL
    IEEE-op sequence as the batch fold — per user the state is
    (n, l, b) with n=0 empty, n=1 "seed level only", and the n=1→2
    transition computing b = x − l before the first real step, exactly
    the batch seeding — so after the last batch the store is
    BIT-EQUAL to the batch operator (no affine composition shortcut:
    composing per-batch affine maps is mathematically equal but
    rounds differently, so the element-wise replay is the one that
    value-hashes). Arrivals are split by ``repartitionByRange`` on
    (ts, event_id): range partition ids are event-time-ordered, and
    ``fold_stream`` triggers part files in partition order, so
    cross-batch event-time order per user holds by construction with
    one write and one scan.

    Delivery: Holt is NOT idempotent (a re-applied batch double-
    advances the fold), so unlike q104's MIN-merge this sink relies on
    the driver's applied-batch ledger, published with the data by the
    store swap's one rename: a redelivered batch is skipped, and no
    crash ordering can advance the store without the ledger.

    Per-batch cost is O(|store| + |batch|) (store re-write per
    trigger, the q104 compaction-cadence contract); per-key state is
    3 scalars, so the store is |users|-sized — the
    applyInPandasWithState low-latency variant (q42) swaps in behind
    the same state machine when triggers are seconds apart.
    """
    from ..catalog import load

    a, bt = float(alpha), float(beta)

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        packed = batch.groupBy("user_id").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("__t"),
                        F.col("event_id").cast("bigint").alias("__tb"),
                        F.col("value").cast("double").alias("__v"),
                    )
                )
            ).alias("__arr")
        )
        if prev is None:
            prev = batch.sparkSession.createDataFrame(
                [], "user_id long, n_events long, l double, b double"
            )
        joined = packed.join(prev, "user_id", "left").select(
            "user_id",
            "__arr",
            F.coalesce("n_events", F.lit(0).cast("bigint")).alias("__n0"),
            F.coalesce("l", F.lit(0.0)).alias("__l0"),
            F.coalesce("b", F.lit(0.0)).alias("__b0"),
        )
        init = F.struct(
            F.col("__n0").alias("n"), F.col("__l0").alias("l"), F.col("__b0").alias("b")
        )

        def step(acc, x):
            v = x["__v"]
            # n=0: seed level.  n=1: seed trend from (x - l), then the
            # first real step — the exact batch-fold op sequence.
            bseed = v - acc["l"]
            nl1 = F.lit(a) * v + F.lit(1.0 - a) * (acc["l"] + bseed)
            nb1 = F.lit(bt) * (nl1 - acc["l"]) + F.lit(1.0 - bt) * bseed
            nl = F.lit(a) * v + F.lit(1.0 - a) * (acc["l"] + acc["b"])
            nb = F.lit(bt) * (nl - acc["l"]) + F.lit(1.0 - bt) * acc["b"]
            return (
                F.when(acc["n"] == 0, F.struct(F.lit(1).cast("bigint").alias("n"), v.alias("l"), F.lit(0.0).alias("b")))
                .when(acc["n"] == 1, F.struct(F.lit(2).cast("bigint").alias("n"), nl1.alias("l"), nb1.alias("b")))
                .otherwise(F.struct((acc["n"] + 1).alias("n"), nl.alias("l"), nb.alias("b")))
            )

        upd = joined.select(
            "user_id",
            F.aggregate("__arr", init, step).alias("__s"),
        ).select(
            "user_id",
            F.col("__s.n").alias("n_events"),
            F.col("__s.l").alias("l"),
            F.col("__s.b").alias("b"),
        )
        untouched = prev.join(packed.select("user_id"), "user_id", "left_anti")
        return untouched.unionByName(upd)

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    arrivals = ev.repartitionByRange(n_arrival_files, F.col("ts").asc(), F.col("event_id").asc())
    out = fold_stream(arrivals, work_dir, fold)
    return out.select(
        "user_id",
        "n_events",
        F.col("l").alias("level"),
        F.when(F.col("n_events") == 1, F.lit(0.0)).otherwise(F.col("b")).alias("trend"),
        (
            F.col("l")
            + F.when(F.col("n_events") == 1, F.lit(0.0)).otherwise(F.col("b"))
        ).alias("forecast_1"),
    )


def hll_streaming_ingest(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    group_keys: tuple[str, ...] = ("event_type",),
    value_col: str = "user_id",
    p: int = 9,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Streaming cardinality ingest: events arrive in micro-batches
    and fold into a per-group HLL REGISTER store by register-wise MAX
    — the mergeable-sketch property (aggregates.hll_registers) used as
    a streaming invariant.

    Invariance argument (the T3/T6 discipline): MAX is idempotent,
    commutative and monotone, and each event's (bucket, rank)
    contribution is recomputed identically on every delivery — so ANY
    arrival split, reordering, or at-least-once redelivery converges
    to the register store of the batch computation, and the final
    estimate lands EXACTLY on the batch fixpoint (the oracle is q147's
    batch HLL SQL). This is the sketch whose streaming form needs no
    dedup at all — unlike counters (CMS adds double-count on
    redelivery), registers only ratchet.

    Per-batch cost: one register aggregation of the batch (m rows per
    group) + one store max-merge rewrite (store size = groups x m,
    INDEPENDENT of stream length — the bounded-state contract).
    Returns the final per-group estimate frame (n_used, d_scaled,
    hll_estimate)."""
    from ..catalog import load
    from ..operators.aggregates import hll_from_registers, hll_registers

    gk = list(group_keys)

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        regs = hll_registers(batch, group_keys=gk, value_col=value_col, p=p)
        if prev is not None:
            regs = prev.unionByName(regs)
        return regs.groupBy(*gk, "__bkt").agg(F.max("__r").alias("__r"))

    ev = load(spark, sf_dir, "events").select(*gk, value_col)
    store = fold_stream(ev.repartition(n_arrival_files), work_dir, fold)
    return hll_from_registers(store, group_keys=gk, p=p).orderBy(*gk)


def funnel_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    steps: Sequence[str],
    horizon_us: int,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Streaming first-touch conversion funnel: events arrive in
    micro-batches and fold into a per-user candidate store whose final
    replay EQUALS the batch funnel (windows.ordered_funnel) no matter
    how arrivals are split, ordered, or redelivered — the q104/q200
    batch-fixpoint contract applied to funnel state.

    Why naive funnel state (just the per-step minima) is WRONG under
    out-of-order arrival: step k's qualifying window depends on the
    anchor t0, and a later batch can deliver an EARLIER step-0 event,
    retroactively re-qualifying a step-k event that looked invalid
    (and DIS-qualifying one past the new t0+H). The store therefore
    keeps, per user:
      * kind 0 — the anchor candidate, folded by idempotent MIN;
      * kind k>=1 — every step-k event time still potentially
        qualifying, i.e. t <= t0_current + H (users with no anchor
        yet keep all candidates — nothing is decidable for them).
    The single prune is SAFE BY MONOTONICITY: t0 only decreases, so
    t0+H only decreases, so an event above the current window can
    never re-enter any future window; everything else is kept, so the
    retained set is always a superset of the finally-qualifying one.
    Union + MIN + monotone prune are idempotent and commutative —
    at-least-once redelivery converges to the exactly-once answer.

    State is bounded by per-user activity inside the anchor horizon
    (plus any not-yet-anchored candidates — a production deployment
    would watermark those out; kept here for exact batch equality).
    One store directory, one crash-safe swap per batch (``fold_stream``).

    Returns the per-user funnel frame (user_id, t0..t{k-1}) computed
    from the final store through the SAME batch operator."""
    from ..catalog import load
    from ..operators.windows import ordered_funnel

    step_of = {s: k for k, s in enumerate(steps)}
    kind_expr = F.coalesce(
        *[
            F.when(F.col("event_type") == s, F.lit(k).cast("int"))
            for s, k in step_of.items()
        ]
    )

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        rows = (
            batch.withColumn("kind", kind_expr)
            .where(F.col("kind").isNotNull())
            .select("user_id", "kind", F.unix_micros("ts").alias("t"))
        )
        if prev is not None:
            rows = prev.unionByName(rows)
        return funnel_state_fold(rows, horizon_us=horizon_us)

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    final = fold_stream(ev.repartition(n_arrival_files), work_dir, fold)
    replay = final.select(
        "user_id",
        F.timestamp_micros(F.col("t")).alias("ts"),
        F.element_at(
            F.array(*[F.lit(s) for s in steps]), F.col("kind") + 1
        ).alias("event_type"),
    )
    return ordered_funnel(
        replay,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        steps=list(steps),
        horizon_us=horizon_us,
    )


def funnel_state_fold(rows: DataFrame, *, horizon_us: int) -> DataFrame:
    """The pure per-batch funnel-state fold (factored out of
    funnel_stream's merge closure so its algebraic invariants are
    directly unit-testable): given (user_id, kind, t) candidate rows
    (store ∪ batch), collapse anchors to their MIN and prune step
    candidates above the current anchor window.

    Invariants the tests pin down (the batch-fixpoint proof obligations):
      * idempotent — fold(fold(S)) = fold(S), and re-folding a
        redelivered batch changes nothing;
      * monotone-safe prune — a candidate above t0+H can never
        re-qualify (t0 only decreases), everything else is KEPT, so
        the state is always a superset of the finally-qualifying
        events;
      * split-invariant — any batch partitioning folds to the same
        final state as one batch."""
    anchors = (
        rows.where(F.col("kind") == 0).groupBy("user_id").agg(F.min("t").alias("t0"))
    )
    return (
        rows.where(F.col("kind") == 0)
        .groupBy("user_id", "kind")
        .agg(F.min("t").alias("t"))
    ).unionByName(
        rows.where(F.col("kind") > 0)
        .join(anchors, "user_id", "left")
        .where(
            F.col("t0").isNull() | (F.col("t") <= F.col("t0") + F.lit(int(horizon_us)))
        )
        .select("user_id", "kind", "t")
        .distinct()
    )


def cdc_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    n_arrival_files: int = 4,
) -> DataFrame:
    """Streaming CDC apply with latest-version-wins upsert semantics:
    a versioned change stream (INSERT / UPDATE / DELETE per key)
    arrives in micro-batches with DUPLICATED deliveries and
    OUT-OF-ORDER versions, and each batch folds into a mutable-table
    store whose final state equals the batch "latest version per key,
    tombstones dropped" apply (q125's cdc_apply) no matter how
    arrivals are split, ordered, or redelivered — the q104/q200/q264
    batch-fixpoint contract extended from append-only corpora to a
    MUTABLE keyed table, i.e. the streaming half of a lakehouse MERGE.

    The change stream is derived deterministically from orders (no
    RNG, oracle-replayable):
      v1 INSERT  every order;
      v2 UPDATE  (+1.0 totalprice) where o_orderkey % 3 = 0;
      v3 DELETE  where o_orderkey % 7 = 0.
    Every change row is emitted TWICE (at-least-once delivery) and
    arrival files are split by hash((key·31 + version·17)) so a key's
    versions land in different micro-batches in arbitrary order.

    Fold per batch: union(previous store, batch) → per-key struct-MAX
    on (version, ...) — versions are unique per key, so the fold is
    idempotent AND commutative: redelivery is a no-op, a stale UPDATE
    arriving after the DELETE loses to it, and any batch split
    converges to the same store.  One crash-safe swap per batch.
    DELETE rows stay in the store as TOMBSTONES (so a late lower
    version can never resurrect the key) and are dropped only at
    readout — the standard compaction-deferred CDC design.

    Scale: per batch one union + one map-side-combinable struct-max
    agg over O(|store| + |batch|); state = one row per live key + one
    per tombstone.  Returns the applied table (key, version, op,
    status, totalprice), tombstones filtered."""
    from ..catalog import load

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    v1 = o.select(
        "key", F.lit(1).alias("version"), F.lit("I").alias("op"), "status", "totalprice"
    )
    v2 = o.where(F.col("key") % 3 == 0).select(
        "key",
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        "status",
        (F.col("totalprice") + F.lit(1.0)).alias("totalprice"),
    )
    v3 = o.where(F.col("key") % 7 == 0).select(
        "key", F.lit(3).alias("version"), F.lit("D").alias("op"), "status", "totalprice"
    )
    changes = v1.unionByName(v2).unionByName(v3)
    redelivered = changes.unionByName(changes)  # at-least-once duplicates
    arrivals = redelivered.repartition(
        n_arrival_files, F.col("key") * 31 + F.col("version") * 17
    )
    return fold_stream(arrivals, work_dir, cdc_fold).where(F.col("op") != "D")


def cdc_fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
    """The per-batch fold of ``cdc_upsert_stream``: per key, the
    struct-MAX on (version, op, status, totalprice) over the previous
    store and the batch change rows."""
    rows = batch if prev is None else prev.unionByName(batch)
    return (
        rows.groupBy("key")
        .agg(
            F.max(
                F.struct(
                    F.col("version").alias("version"),
                    F.col("op").alias("op"),
                    F.col("status").alias("status"),
                    F.col("totalprice").alias("totalprice"),
                )
            ).alias("__m")
        )
        .select("key", "__m.version", "__m.op", "__m.status", "__m.totalprice")
    )
