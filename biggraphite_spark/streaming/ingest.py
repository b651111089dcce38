"""Structured Streaming ingest: the carbon write path as a streaming job.

Reference semantics mapped (SURVEY §2.9):
- T1 tumbling per-stage windows  -> ``groupBy(window(ts, precision))``
- T2 out-of-order tolerance 15min -> ``withWatermark("ts", "15 minutes")``
  (drivers/cassandra.py:638-640)
- T3 re-emitted buckets           -> update-mode aggregation; the sink
  upserts re-emitted (name, bucket) partials (foreachBatch + PointStore
  append/overwrite; Delta MERGE on a real lakehouse)
- T4 state TTL                    -> watermark-driven state eviction
- T5 slow-stage coalescing        -> trigger interval per stage

The streaming aggregate stores *generic partials* — (sum, count, min, max,
newest (ts,value)) — rather than per-aggregator values: every aggregator's
final value is derivable at read time, streaming state stays
aggregator-agnostic, and `max_by`-style ordering comes from max-of-struct
(structs order by leading field), which streaming supports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import OUT_OF_ORDER_S, Stage

#: ceiling for per-stage trigger intervals — even the 1-day stage flushes
#: at least this often so operators see progress
TRIGGER_CAP_S = 300


def stage_trigger_seconds(stage: Stage, floor_s: int = 1, cap_s: int = TRIGGER_CAP_S) -> int:
    """T5 slow-stage coalescing: flush cadence tracks stage precision.

    A 1s stage triggers every second; a 1h/1d stage has nothing new to say
    that often, so its micro-batches coalesce to the cap — the streaming
    equivalent of the reference downsampler flushing coarse stages on a
    slower period instead of per-point."""
    return max(floor_s, min(stage.precision, cap_s))


def generic_partials(points_stream: DataFrame, stage: Stage,
                     watermark_s: int = OUT_OF_ORDER_S) -> DataFrame:
    """Streaming windowed rollup to aggregator-agnostic partials.

    ``points_stream`` must carry (name, ts timestamp, value double).
    Output: name, ts (bucket start, unix s), sum, count, min, max, last.
    """
    wm = points_stream.withWatermark("ts", f"{watermark_s} seconds")
    win = F.window("ts", f"{stage.precision} seconds")
    agg = (
        wm.groupBy(win.alias("w"), "name")
        .agg(
            F.sum("value").alias("sum"),
            F.count("value").alias("count"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            # newest (ts, value): structs compare by leading field, so plain
            # max() is a streaming-safe max_by(value, ts)
            F.max(F.struct(F.col("ts"), F.col("value"))).alias("newest"),
        )
    )
    return agg.select(
        "name",
        F.unix_timestamp(F.col("w.start")).alias("ts"),
        "sum",
        "count",
        "min",
        "max",
        F.col("newest.value").alias("last"),
    )


def finalize_partials(partials: DataFrame, aggregator_col: F.Column) -> F.Column:
    """Read-time final value from generic partials, per the metric's
    aggregator (same identities as functions/aggregators.py)."""
    return (
        F.when(aggregator_col == "average", F.col("sum") / F.col("count"))
        .when(aggregator_col == "total", F.col("sum"))
        .when(aggregator_col == "minimum", F.col("min"))
        .when(aggregator_col == "maximum", F.col("max"))
        .otherwise(F.col("last"))
    )


def fan_out_sink(*writers):
    """MultiDatabase-style fan-out (SURVEY §2.7 U4, plugins/carbon.py:372-456:
    the whisper+biggraphite double-write): one foreachBatch callback that
    hands each micro-batch to every registered writer.  The batch DataFrame
    is persisted across writers so the upstream aggregation runs once.

    An empty batch reaches no writer.  Update mode runs a no-data batch
    after every watermark advance; its one ``count()`` still executes the
    stateful stage (so the state commits) and costs one job instead of
    every writer's."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.count() == 0:
                return
            for w in writers:
                w(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    return sink


def stream_events_to_store(points_stream: DataFrame, stage: Stage, store,
                           checkpoint_dir: str, trigger_seconds: int | None = None):
    """Wire the rollup to a PointStore sink via foreachBatch.

    Update-mode re-emits a (name, bucket) whenever late-but-in-watermark
    data lands, so each appended row is stamped with its batch epoch and
    :func:`latest_partials` resolves last-write-wins at read time — the
    parquet-append equivalent of the Delta MERGE upsert (T3).  The batch id
    is monotonic across restarts (checkpointed), which also makes a
    replayed batch after a crash idempotent under the same resolution.

    ``trigger_seconds`` defaults to the stage's coalesced cadence
    (:func:`stage_trigger_seconds`, T5); pass an explicit value to
    override, or 0 for as-fast-as-possible micro-batches."""
    partials = generic_partials(points_stream, stage)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.write(batch_df.withColumn("epoch", F.lit(epoch_id)), stage, mode="append")

    writer = (
        partials.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is None:
        trigger_seconds = stage_trigger_seconds(stage)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def latest_partials(store, spark: SparkSession, stage: Stage) -> DataFrame:
    """Resolve the streaming store to one row per (name, bucket): the
    newest epoch's partial wins (see stream_events_to_store).  Plain
    (non-epoch) stores pass through."""
    df = store.read(spark, stage)
    if "epoch" not in df.columns:
        return df
    w = Window.partitionBy("name", "ts").orderBy(F.desc("epoch"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "epoch")
    )


def rollup_maintenance_sink(store, stage0: Stage, coarse_stages):
    """foreachBatch writer keeping coarser stages fresh IN PLACE: after each
    micro-batch lands in the stage0 store, recompute exactly the coarse day
    partitions the batch dirtied (``storage.dirty_rollup_days`` plan →
    ``PointStore.refresh_rollup``).  This is the reference downsampler's
    maintain-coarse-from-fine schedule (drivers/_downsampling.py) expressed
    as incremental view maintenance — the alternative to epoch-appending
    every stage and folding at read time: coarse reads need no LWW window
    at all.

    Compose AFTER the stage0 append writer in :func:`fan_out_sink` (writers
    run in registration order); ``refresh_rollup`` folds the stage0 store's
    epoch history before re-aggregating, so crash-replayed batches stay
    idempotent.
    """
    from ..storage import dirty_rollup_days

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        for coarse in coarse_stages:
            days = dirty_rollup_days(batch_df, coarse)
            store.refresh_rollup(spark, stage0, coarse, days)

    return sink
