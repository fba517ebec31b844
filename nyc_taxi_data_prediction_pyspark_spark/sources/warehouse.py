"""Warehouse-table lifecycle (SURVEY.md §2.1 S7-S12): managed parquet
tables replacing the Snowflake stage/PUT/COPY/MERGE/TRUNCATE cycle
(reference: dags/etl_spark_historical.py:251-339).

Design: a plain directory-of-parquet "warehouse" with idempotent DDL
(S10), staging-directory lifecycle (S11), crash-safe swap writes
(``swap_dir``), and the merge-upsert load (J1) from operators/merge.py.
Without a transactional table format, atomicity is stage-directory +
rename (single-writer), which the docstrings call out explicitly
(SURVEY.md §7.4).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .._schema_memo import read_parquet, remember
from ..operators.merge import anti_new_rows
from ..schemas import LOAD_TS_COL


def swap_dir(target: str, staged: str) -> None:
    """Replace directory ``target`` with the complete directory
    ``staged``: rename the live copy ASIDE to ``target + '_old'``,
    rename the staged copy in, then delete the old copy.  A plain
    rmtree-then-rename has a window where a crash has deleted the only
    copy; here a crash at any point leaves at least one complete copy
    on disk (``target`` or ``target + '_old'``), so the failure is
    recoverable by an operator rather than silent data loss.  This is
    the engine's one directory swap (Warehouse table rewrites and the
    streaming fold stores).  Single-writer discipline makes the fixed
    ``_old`` name collision-free."""
    old = target + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from a prior completed swap
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staged, target)
    if os.path.exists(old):
        shutil.rmtree(old)


class Warehouse:
    """Minimal managed-table layout: <root>/<table>/ parquet dirs."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # S10: CREATE TABLE IF NOT EXISTS — idempotent object creation.
    def ensure(self, table: str, empty_like: DataFrame, *, load_ts: bool = True) -> None:
        """``load_ts=True`` bakes the audit column into the empty
        table so every part file in the directory shares one schema —
        a 0-row file without it would race the audit-stamped appends
        for schema inference (single-footer inference picks whichever
        file sorts first)."""
        p = self.path(table)
        if not os.path.exists(p):
            empty = empty_like.limit(0)
            if load_ts and LOAD_TS_COL not in empty.columns:
                empty = empty.withColumn(LOAD_TS_COL, F.lit(None).cast("timestamp"))
            empty.write.mode("overwrite").parquet(p)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str, *, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` reconciles files written under
        EVOLVED schemas (columns added over the table's lifetime):
        Spark unions the parquet footers' schemas and fills absent
        columns with NULL per file — a metadata-only operation, no
        data rewrite. The 100 TB posture for additive schema change:
        old files are never touched; readers see the superset schema;
        the cost is one footer read per file (amortized by the usual
        footer caching), not a table rewrite. Default stays off
        because single-schema tables shouldn't pay the footer merge.

        Without ``merge_schema`` the read goes through the schema memo:
        a table last rewritten by this process (``_swap_write``) is read
        with the schema it was written with, so no inference job runs;
        an ``append`` changes the files, so the next read infers again."""
        if merge_schema:
            return self.spark.read.option("mergeSchema", "true").parquet(self.path(table))
        return read_parquet(self.spark, self.path(table))

    # ---- snapshot versioning / time travel ------------------------------
    # The Delta/Iceberg capability the plain-parquet layout lacks most:
    # every write lands in a NEW immutable version directory and a tiny
    # pointer file flips atomically (os.replace) — readers holding an
    # older version keep a consistent view (snapshot isolation for
    # single-writer), and any historical version stays queryable until
    # explicitly vacuumed. At 100 TB this is exactly the metadata-pointer
    # pattern the table formats use: commit cost is O(pointer), never a
    # data rewrite, and concurrent readers never observe a half-written
    # table (the version dir is complete before the pointer moves).

    def _version_dir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, "_v", f"{version:06d}")

    def _write_version(self, table: str, df: DataFrame) -> int:
        """Write ``df`` as the next version directory of ``table`` (no
        pointer moves) and keep its schema for ``read_snapshot``."""
        base = os.path.join(self.root, table, "_v")
        os.makedirs(base, exist_ok=True)
        existing = sorted(int(d) for d in os.listdir(base) if d.isdigit())
        v = (existing[-1] + 1) if existing else 1
        path = self._version_dir(table, v)
        df.write.mode("overwrite").parquet(path)
        remember(self.spark, path, df.schema)
        return v

    def _set_current(self, table: str, version: int) -> None:
        tmp = os.path.join(self.root, table, "_current.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.root, table, "_current"))

    def snapshot_write(self, table: str, df: DataFrame) -> int:
        """Write ``df`` as the next immutable version of ``table`` and
        atomically advance the current-version pointer. Returns the new
        version number (1-based)."""
        v = self._write_version(table, df)
        self._set_current(table, v)
        return v

    def snapshot_versions(self, table: str) -> list[int]:
        base = os.path.join(self.root, table, "_v")
        if not os.path.exists(base):
            return []
        return sorted(int(d) for d in os.listdir(base) if d.isdigit())

    def read_snapshot(self, table: str, version: int | None = None) -> DataFrame:
        """Read ``table`` at ``version`` (time travel), or at the
        current pointer when omitted.

        A version written in this process is read with the schema it
        was written with, so the read launches no job; other versions
        pay one schema-inference job on their first read."""
        if version is None:
            with open(os.path.join(self.root, table, "_current")) as f:
                version = int(f.read().strip())
        return read_parquet(self.spark, self._version_dir(table, version))

    def vacuum_snapshots(self, table: str, *, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (the retention
        sweep every versioned table needs; pointer target is always
        kept). Returns the versions removed."""
        versions = self.snapshot_versions(table)
        with open(os.path.join(self.root, table, "_current")) as f:
            current = int(f.read().strip())
        drop = [v for v in versions[:-keep_last] if v != current] if keep_last else []
        for v in drop:
            shutil.rmtree(self._version_dir(table, v))
        return drop

    # S11: CREATE OR REPLACE STAGE — staging dir lifecycle.
    def stage_dir(self, name: str, *, replace: bool = True) -> str:
        p = os.path.join(self.root, "_stage", name)
        if replace and os.path.exists(p):
            shutil.rmtree(p)
        os.makedirs(p, exist_ok=True)
        return p

    # S12: TRUNCATE TABLE.
    def truncate(self, table: str) -> None:
        df = self.read(table).limit(0)
        self._swap_write(table, df)

    def append(
        self, table: str, df: DataFrame, *, load_ts: bool = True, partition_by: list[str] | None = None
    ) -> None:
        """S8/S9 append path; stamps the audit column every ingest
        (column defaults don't exist in Spark DDL — SURVEY.md §7.4).
        ``partition_by``: hive-layout partition columns — at 100 TB the
        fact table partitions by trip month so merge probes and time
        queries prune to a few directories."""
        out = df.withColumn(LOAD_TS_COL, F.current_timestamp()) if load_ts else df
        w = out.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def merge_load(self, table: str, stg: DataFrame, key: list[str], *, load_ts: bool = True) -> int:
        """J1 load: insert-if-not-matched on ``key``; returns rows
        inserted. Existing fact rows keep their original ``load_ts``
        (reference semantics: the audit default fires on INSERT only,
        etl_spark_historical.py:59) — only the new rows are stamped.
        Rewrites the table via stage+rename (the non-transactional
        MERGE caveat, single-writer assumption)."""
        fact = self.read(table)
        if load_ts and LOAD_TS_COL not in fact.columns:
            # freshly ensured table: audit column materializes on first load
            fact = fact.withColumn(LOAD_TS_COL, F.lit(None).cast("timestamp"))
        before = fact.count()
        new_rows = anti_new_rows(stg, fact.select(*key), key)
        if load_ts:
            new_rows = new_rows.withColumn(LOAD_TS_COL, F.current_timestamp())
        merged = fact.unionByName(new_rows)
        self._swap_write(table, merged)
        return self.read(table).count() - before

    def save_bucketed(
        self, table: str, df: DataFrame, *, buckets: int, key: list[str]
    ) -> None:
        """Bucketed managed table (saveAsTable — bucketing metadata
        needs the session catalog, not a bare parquet dir): joins and
        aggregations on ``key`` between co-bucketed tables skip the
        shuffle entirely. At 100 TB, bucket the fact table on the merge
        key prefix so every load's anti-join is exchange-free."""
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, *key)
            .sortBy(*key)
            .option("path", self.path(f"bucketed_{table}"))
            .saveAsTable(table)
        )

    def scd2_merge(
        self,
        table: str,
        updates: DataFrame,
        *,
        key: list[str],
        attrs: list[str],
        batch_ts,
    ) -> dict:
        """Slowly-changing-dimension type-2 merge: keep full attribute
        history. The J1 MERGE's natural warehouse sibling — insert-if-
        not-matched PLUS close-and-version when a tracked attribute
        changed.

        Row lifecycle columns: ``valid_from``/``valid_to`` timestamps
        and ``is_current``; open rows have NULL valid_to. An update
        whose attrs equal the current row is a no-op (idempotent
        re-delivery, the reference's MERGE invariant readme.md:30).

        One shuffle (updates⋈current on ``key``); history rows are
        untouched pass-through. At scale, partition the dim by a key
        hash and prune the join to the update batch's key range the
        same way merge_load's probe does. ``batch_ts`` is explicit so
        replays are deterministic (no wall clock inside the plan).

        Returns {"closed": n, "inserted": n}.
        """
        upd = updates.select(*key, *attrs).dropDuplicates(key)
        if not self.exists(table):
            first = (
                upd.withColumn("valid_from", F.lit(batch_ts).cast("timestamp"))
                .withColumn("valid_to", F.lit(None).cast("timestamp"))
                .withColumn("is_current", F.lit(True))
                # one materialization serves both the write and the
                # audit count (the count re-ran the dedup otherwise)
                .localCheckpoint()
            )
            self._swap_write(table, first)
            return {"closed": 0, "inserted": first.count()}

        dim = self.read(table)
        cur = dim.filter(F.col("is_current"))
        hist = dim.filter(~F.col("is_current"))

        attr_differs = F.lit(False)
        for a in attrs:
            attr_differs = attr_differs | ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))

        u, c = upd.alias("u"), cur.alias("c")
        keymatch = [F.col(f"u.{k}") == F.col(f"c.{k}") for k in key]
        joined = u.join(c, keymatch, "left")

        is_new = F.col(f"c.{key[0]}").isNull()
        changed_or_new = joined.filter(is_new | attr_differs).select("u.*")

        ck = changed_or_new.select(*key)
        closed = (
            cur.join(ck, key, "left_semi")
            .withColumn("valid_to", F.lit(batch_ts).cast("timestamp"))
            .withColumn("is_current", F.lit(False))
        )
        untouched = cur.join(ck, key, "left_anti")
        fresh = (
            changed_or_new.withColumn("valid_from", F.lit(batch_ts).cast("timestamp"))
            .withColumn("valid_to", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
        )
        # localCheckpoint: the union below reads `dim` on both branches
        # while _swap_write replaces the files it scans.  A transient
        # branch marker rides the union so BOTH audit counts are cheap
        # scans of the one materialization — the former
        # closed.count()/fresh.count() pair re-ran the full update join
        # per count, tripling the merge's compute (round-13, guide §1.2)
        out = (
            hist.withColumn("__b", F.lit(0))
            .unionByName(untouched.withColumn("__b", F.lit(0)))
            .unionByName(closed.withColumn("__b", F.lit(1)))
            .unionByName(fresh.withColumn("__b", F.lit(2)))
        ).localCheckpoint()
        n_closed = out.where(F.col("__b") == 1).count()
        n_fresh = out.where(F.col("__b") == 2).count()
        self._swap_write(table, out.drop("__b"))
        return {"closed": n_closed, "inserted": n_fresh}

    def compact(
        self, table: str, *, target_files: int, sort_by: list[str] | None = None
    ) -> int:
        """Small-file compaction: rewrite the table as ``target_files``
        parquet files, optionally sorted within each file.

        Continuous micro-batch appends (the weather feed's
        one-row-per-run cadence, or per-month merge loads) accumulate
        tiny files; at scale that throttles every subsequent scan on
        open/seek cost and starves the scheduler with million-split
        stages. Compaction is the standing maintenance op every table
        format runs (Delta OPTIMIZE, Iceberg rewrite_data_files) —
        here it is repartition + atomic stage-and-rename swap.

        ``sort_by`` gives each file a tight min/max envelope on those
        columns, so parquet row-group statistics prune reads for
        range predicates (the poor-man's Z-order; one clustering key
        is usually enough). Returns the resulting file count.
        """
        df = self.read(table)
        out = df.repartition(target_files)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        self._swap_write(table, out)
        import glob as _glob

        return len(_glob.glob(os.path.join(self.path(table), "part-*")))

    # ---- multi-table atomic snapshot transactions -----------------
    #
    # Cross-table consistency (the warehouse property a fact+dim
    # refresh needs: nobody may ever see new facts with old dims).
    # Per-table _current pointers cannot be advanced atomically
    # TOGETHER, so transactional readers resolve versions through ONE
    # root manifest committed by a single os.replace — the same
    # publish-the-pointer-LAST ordering as the staged 2PC sink
    # (pysource.StagedJsonSinkDataSource): data first, invisible;
    # manifest rename is the commit point; a crash anywhere before it
    # leaves every table's previous contents fully intact.

    def multi_snapshot_write(self, writes: dict[str, DataFrame]) -> dict[str, int]:
        """Atomically publish new versions of SEVERAL tables: write
        each table's next version directory (invisible — no pointer
        moves), then commit a root transaction manifest naming every
        (table, version) with ONE atomic rename. ``read_txn`` sees
        either every table's old version or every table's new version,
        never a mix. The per-table ``_current`` pointers advance AFTER
        the commit point as a convenience for non-transactional
        readers (a crash in that window cannot break ``read_txn``).
        Returns {table: new_version}."""
        import json

        staged = {table: self._write_version(table, df) for table, df in sorted(writes.items())}
        manifest = dict(self._txn_manifest())
        manifest.update(staged)
        tmp = os.path.join(self.root, "_txn.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.root, "_txn"))  # the commit point
        for table, v in staged.items():  # post-commit convenience pointers
            self._set_current(table, v)
        return staged

    def _txn_manifest(self) -> dict[str, int]:
        import json

        path = os.path.join(self.root, "_txn")
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def read_txn(self, table: str) -> DataFrame:
        """Read ``table`` at its version in the LAST COMMITTED
        transaction (cross-table consistent); tables never written
        transactionally fall back to their own current pointer."""
        v = self._txn_manifest().get(table)
        if v is None:
            return self.read_snapshot(table)
        return self.read_snapshot(table, v)

    def _swap_write(self, table: str, df: DataFrame) -> None:
        tmp = self.path(f"_tmp_{table}_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(tmp)
        swap_dir(self.path(table), tmp)
        remember(self.spark, self.path(table), df.schema)
