"""Partitioned points store: the engine's durable layout.

Replaces the reference's per-stage Cassandra tables with per-stage Parquet
trees partitioned by a day bucket (SURVEY §1.3/§1.5):

    {base}/datapoints_{points}p_{precision}s_{0|aggr}/pday={day}/*.parquet

Design mapping:
- per-stage table -> per-stage directory (TTL/compaction tuning per stage in
  the reference, CASSANDRA_DESIGN.md:49-54, becomes per-stage retention
  expiry here);
- `(metric, time_start_ms)` partition keys + offset clustering
  (drivers/cassandra.py:740-782) -> `pday` directory pruning + name-clustered
  day files: every writer sorts each day's rows by (name, ts)
  (:meth:`PointStore._write_days`), so a metric's points sit in a run of
  consecutive Parquet pages and a ``name IN (...)``/``ts`` read skips the
  other metrics' pages by the page index (per-page column min/max, which
  Spark's vectorized reader applies by default).  A small day file is a
  single row group, so row-group min/max alone would prune nothing inside
  it.  `time_filter` reproduces the reference's
  `_fetch_points_make_selects` arithmetic as a partition-pruning predicate;
- TTL (duration + out-of-order margin, drivers/cassandra.py:943-1019) ->
  `expire()` dropping whole day partitions — the cheap partition-drop
  equivalent (SURVEY §4.2).

At cluster scale the same layout holds: partition by day (plus optionally
bucket by name for co-located per-metric reads), with
`spark.sql.files.maxPartitionBytes` sizing scan tasks.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .model import OUT_OF_ORDER_S, Retention, Stage

SECONDS_PER_DAY = 86400


def pday_col(ts: Column) -> Column:
    """Day bucket of a unix-seconds timestamp — the partition key."""
    return (ts - (ts % F.lit(SECONDS_PER_DAY))) / F.lit(SECONDS_PER_DAY)


class PointStore:
    """One Parquet tree per retention stage, day-partitioned."""

    def __init__(self, base_path: str):
        self.base_path = base_path

    def stage_path(self, stage: Stage) -> str:
        return os.path.join(self.base_path, stage.table_name)

    # -- write -------------------------------------------------------------
    def write(self, df: DataFrame, stage: Stage, mode: str = "overwrite") -> None:
        """Persist a stage DataFrame (name, ts, value[, count, aggregator]).

        Append mode is what the streaming foreachBatch sink uses.
        """
        self._write_days(
            df.withColumn("pday", pday_col(F.col("ts")).cast("int")),
            self.stage_path(stage),
            mode,
        )

    @staticmethod
    def _write_days(df: DataFrame, path: str, mode: str) -> None:
        """The one stage-tree writer: ``df`` (carrying ``pday``) written
        day-partitioned, each file's rows sorted by (name, ts) — the
        clustering the page-index skipping of name-keyed reads relies on.
        A local sort, no shuffle: the partitioned writer needs its input
        sorted by ``pday`` anyway, and (pday, name, ts) satisfies that."""
        (
            df.sortWithinPartitions("pday", "name", "ts")
            .write.partitionBy("pday")
            .mode(mode)
            .parquet(path)
        )

    # -- read --------------------------------------------------------------
    def read(self, spark: SparkSession, stage: Stage) -> DataFrame:
        return spark.read.parquet(self.stage_path(stage))

    @staticmethod
    def time_filter(start: int, end: int) -> Column:
        """``[start, end)`` as a partition-pruning predicate.

        The explicit ``pday`` bounds are what lets the file source skip
        whole day directories (the reference computes per-partition SELECT
        bounds the same way, drivers/cassandra.py:1887-1919); the ``ts``
        bounds stay for row-group pruning inside the kept days.  One SQL
        string, not a Column tree: a serving read builds it per request,
        and each Column operator is a driver-to-JVM round trip.
        """
        return F.expr(
            f"pday >= {start // SECONDS_PER_DAY} AND pday <= {(end - 1) // SECONDS_PER_DAY}"
            f" AND ts >= {start} AND ts < {end}"
        )

    def fetch(self, spark: SparkSession, stage: Stage, start: int, end: int) -> DataFrame:
        return self.read(spark, stage).filter(self.time_filter(start, end))

    # -- name-bucketed variant ---------------------------------------------
    def bucketed_table(self, stage: Stage) -> str:
        return f"bg_{stage.table_name}"

    def write_bucketed(
        self, df: DataFrame, stage: Stage, n_buckets: int = 32
    ) -> str:
        """Persist a stage hash-bucketed by ``name`` (and sorted by
        (name, ts) inside each bucket file).

        This is the co-location layout for per-metric work: every windowed
        rollup, regroup, window function, or self-join keyed by ``name``
        (optionally plus a time bucket) reads the bucketed scan's existing
        HashPartitioning(name) and needs NO exchange — the reference gets the
        same locality from its `(metric, time_start_ms)` Cassandra partition
        keys (drivers/cassandra.py:740-782).  At 100 TB this turns the
        downsampling cascade into map-side-only stages; pick ``n_buckets``
        ~ cluster cores so one bucket ~= one task.
        """
        name = self.bucketed_table(stage)
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.withColumn("pday", pday_col(F.col("ts")).cast("int"))
            .write.format("parquet")
            .partitionBy("pday")  # keep day pruning alongside name buckets
            .bucketBy(n_buckets, "name")
            .sortBy("name", "ts")
            .option("path", self.stage_path(stage) + "_bucketed")
            .mode("overwrite")
            .saveAsTable(name)
        )
        return name

    def read_bucketed(
        self, spark: SparkSession, stage: Stage, n_buckets: int = 32
    ) -> DataFrame:
        """Read the bucketed layout, re-registering the external table when
        the session's (in-memory) catalog doesn't have it — the reuse path:
        a fresh session pointed at a store written by an earlier one
        (SPARK_GRAFT_REUSE_STORE) has the files but not the saveAsTable
        registration, and only the table's CLUSTERED BY spec hands scans
        the exchange-free HashPartitioning(name)."""
        name = self.bucketed_table(stage)
        if not spark.catalog.tableExists(name):
            path = self.stage_path(stage) + "_bucketed"
            sample = spark.read.parquet(path)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in sample.schema.fields
                if f.name != "pday"
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}, pday INT) USING parquet "
                f"PARTITIONED BY (pday) "
                f"CLUSTERED BY (name) SORTED BY (name, ts) "
                f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
            )
            spark.catalog.recoverPartitions(name)
        return spark.table(name)

    # -- retention expiry --------------------------------------------------
    def expire(self, stage: Stage, now: int, margin: int = OUT_OF_ORDER_S) -> list[int]:
        """Drop day partitions entirely older than the stage horizon.

        Mirrors the reference's per-table TTL = duration + out-of-order
        margin (drivers/cassandra.py:943-948) as a partition drop; returns
        the dropped day numbers.
        """
        cutoff_day = (now - stage.duration - margin) // SECONDS_PER_DAY
        path = self.stage_path(stage)
        dropped: list[int] = []
        if not os.path.isdir(path):
            return dropped
        for entry in os.listdir(path):
            if not entry.startswith("pday="):
                continue
            day = int(entry.split("=", 1)[1])
            # a partition holds [day*86400, (day+1)*86400): drop only if its
            # newest possible point is older than the cutoff
            if day < cutoff_day:
                shutil.rmtree(os.path.join(path, entry))
                dropped.append(day)
        return dropped

    def sync(self, retention: Retention) -> None:
        """syncdb analogue (drivers/cassandra.py:2289-2355): materialize the
        per-stage directory skeleton."""
        for stage in retention.stages:
            os.makedirs(self.stage_path(stage), exist_ok=True)

    # -- upsert finalization (T3) -------------------------------------------
    def compact(self, spark: SparkSession, stage: Stage,
                days: list[int] | None = None) -> list[int]:
        """Fold epoch-stamped streaming appends down to one row per
        (name, ts) — the parquet-tree equivalent of the reference's in-place
        ring-buffer overwrite (drivers/_downsampling.py:128-189) or a
        lakehouse MERGE.  Write-side twin of
        :func:`..streaming.ingest.latest_partials`: the read-time
        last-write-wins stays correct before, during, and after, this just
        collapses the append history so steady-state reads stop paying the
        LWW window over re-emitted buckets.

        Per (name, ts) the row with the highest ``epoch`` wins (ties —
        replayed batches appending identical rows — collapse to one row, so
        compaction is also the dedup for crash-replay appends).  The winning
        row KEEPS its epoch: the column stays in the schema, so files
        appended by the streaming sink afterwards merge cleanly and newer
        epochs keep winning.

        Scale shape: only the selected (default: all present) day partitions
        are read and rewritten — one (name, ts)-keyed exchange scoped to
        those days, not the whole store.  The rewrite goes through
        :meth:`_write_days`, so compaction also re-clusters days written
        unsorted (before the writers sorted by (name, ts)).  The swap is a
        per-``pday`` directory rename via a side tree (Spark refuses to
        overwrite a path it is reading), so a crash mid-compact leaves each
        day either fully old or fully new, never mixed.  Returns the
        rewritten day numbers.
        """
        path = self.stage_path(stage)
        df = self.read(spark, stage)
        if "epoch" not in df.columns:
            return []
        present = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(path)
            if e.startswith("pday=")
        )
        target = present if days is None else sorted(set(days) & set(present))
        if not target:
            return []
        w = Window.partitionBy("name", "ts").orderBy(F.desc("epoch"))
        resolved = (
            df.filter(F.col("pday").isin(target))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tmp = path + "_compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_days(resolved, tmp, "overwrite")
        for day in target:
            new_dir = os.path.join(tmp, f"pday={day}")
            if not os.path.isdir(new_dir):  # day emptied (shouldn't happen)
                continue
            old_dir = os.path.join(path, f"pday={day}")
            shutil.rmtree(old_dir, ignore_errors=True)
            shutil.move(new_dir, old_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        return target

    def _swap_day_partitions(
        self, result: DataFrame, stage: Stage, days: list[int], suffix: str
    ) -> list[int]:
        """Write ``result`` partitioned by pday into a side tree, then swap
        the listed day directories into the stage tree one rename at a time
        (Spark refuses to overwrite a path it reads; per-day renames keep a
        crash from ever leaving a day half-written).  A day with no rows in
        ``result`` is REMOVED from the stage tree — recompute semantics, not
        append."""
        path = self.stage_path(stage)
        tmp = path + suffix
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_days(result, tmp, "overwrite")
        os.makedirs(path, exist_ok=True)
        for day in days:
            new_dir = os.path.join(tmp, f"pday={day}")
            old_dir = os.path.join(path, f"pday={day}")
            shutil.rmtree(old_dir, ignore_errors=True)
            if os.path.isdir(new_dir):
                shutil.move(new_dir, old_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        return days

    # -- incremental rollup maintenance -------------------------------------
    def refresh_rollup(
        self,
        spark: SparkSession,
        fine: Stage,
        coarse: Stage,
        days: list[int],
    ) -> list[int]:
        """Recompute ONLY the listed coarse-stage day partitions from the
        fine stage — the incremental-view-maintenance step a late-arriving
        batch triggers (see :func:`dirty_rollup_days` for the invalidation
        plan).  The reference re-aggregates whole stages on its downsampling
        schedule (drivers/_downsampling.py); here a backfill touching 2 of
        1000 days re-reads and rewrites exactly those days' inputs.

        Scale shape: the fine-stage read is partition-pruned to the day
        range that can contribute to the dirty coarse buckets (a coarse
        bucket starting in day D consumes fine rows up to D + precision), so
        cost is proportional to the dirtied data, not the store; one
        exchange for the re-aggregation (a ``name``-keyed one when the
        last-write-wins fold runs: both it and the rollup key on ``name``,
        so one repartition serves both); per-day directory swap as in
        :meth:`compact`.
        """
        from .operators.downsample import bucket_col, rollup_partials

        if not days:
            return []
        days = sorted(set(days))
        span = (coarse.precision + SECONDS_PER_DAY - 1) // SECONDS_PER_DAY
        prune = F.col("pday").isin(
            [d + k for d in days for k in range(span + 1)]
        )
        contributing = (
            self.read(spark, fine)
            .filter(prune)
            .filter(
                pday_col(bucket_col(F.col("ts"), coarse.precision))
                .cast("int")
                .isin(days)
            )
        )
        if "epoch" in contributing.columns:
            # streaming stores append re-emitted buckets epoch-stamped
            # (stream_events_to_store); fold to last-write-wins BEFORE
            # re-aggregating or corrections double-count.  Scoped to the
            # pruned days, so the LWW window stays proportional to the
            # dirtied data.
            w = Window.partitionBy("name", "ts").orderBy(F.desc("epoch"))
            contributing = (
                contributing.repartition("name")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "epoch")
            )
        if "aggregator" in contributing.columns:
            rolled = rollup_partials(contributing, coarse)
        else:
            # streaming stores hold aggregator-agnostic partials
            # (sum/count/min/max/last) — merge with the generic algebra
            from .operators.downsample import rollup_generic_partials

            rolled = rollup_generic_partials(contributing, coarse)
        rolled = rolled.withColumn("pday", pday_col(F.col("ts")).cast("int"))
        return self._swap_day_partitions(rolled, coarse, days, "_refreshing")


def dirty_rollup_days(batch: DataFrame, coarse: Stage) -> list[int]:
    """Invalidation plan for :meth:`PointStore.refresh_rollup`: the distinct
    coarse-stage day partitions whose rollups a batch of (late) points
    touches.  A point at ``ts`` lands in the coarse bucket starting at
    ``round_down(ts)``, which lives in that bucket-start's day partition.

    The result is a day list (partition metadata, bounded by the batch's
    time spread — days, not rows), so the driver-side collect is the same
    class as :meth:`PointStore.compact`'s directory listing."""
    from .operators.downsample import bucket_col

    rows = (
        batch.select(
            pday_col(bucket_col(F.col("ts"), coarse.precision))
            .cast("int")
            .alias("pday")
        )
        .distinct()
        .collect()
    )
    return sorted(r.pday for r in rows)
