"""Read path: ranged point fetch + read-time regroup (PointGrouper).

Reference lifecycle (SURVEY §3.1 steps 4-5): align the window and pick a
stage (plan-time, biggraphite/metric.py:593-623 — implemented in
``model.Retention.align_time_window``), scan ``[start, end)`` for the matched
metrics (drivers/cassandra.py:1846-1919), regroup rows into target-stage
buckets applying each metric's aggregator (accessor.py:413-584).

Spark mapping: the per-partition SELECT fan-out becomes one filtered scan —
on a store-backed stage (one with the ``pday`` partition column) the
``pday`` bounds of :meth:`..storage.PointStore.time_filter` prune whole day
directories, and the ``ts`` bounds prune row groups inside the kept days —
what ``_fetch_points_make_selects`` did by hand; the regroup is one
aggregation keyed by (name, aggregator, bucket).  Replica selection
(accessor.py:468-505) is dropped: Spark's single-logical-writer tables
don't need it (SURVEY §2.3 A4).

Two read shapes share :func:`regroup`:

- :func:`fetch_named`, the serving shape (every ``Engine`` read and every
  ``/render`` leaf).  The glob was resolved once on the driver to a sorted
  ``(name, aggregator)`` list, so the scan carries a pushed-down
  ``name IN (...)`` predicate and each row's aggregator is a literal (an
  IN-set CASE when the list mixes aggregators) instead of a catalog join.
  The sliced rows are repartitioned by ``name`` once; the regroup, the
  renderer's ``maxDataPoints`` consolidation and the per-series render
  functions (windows partitioned by name) all reuse that one exchange.
- :func:`fetch_points`, the batch shape: the matched metrics arrive as a
  DataFrame, so the metric filter is a broadcast semi-join (small matched
  set against a huge points table, SURVEY §2.4 J2) and raw stage0 rows get
  their aggregator from a broadcast catalog join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.aggregators import final_value_expr, partial_count_expr, partial_value_expr
from ..model import Stage
from ..storage import PointStore
from .downsample import bucket_col
from .gapfill import grid


def time_slice(points: DataFrame, start: int, end: int) -> DataFrame:
    """``[start, end)`` — end exclusive per the accessor contract
    (accessor.py:203-236).  A store-backed relation also gets the ``pday``
    bounds, so its scan lists only the window's day partitions."""
    return points.filter(_time_cond(points, start, end))


def _time_cond(points: DataFrame, start: int, end: int) -> Column:
    if "pday" in points.columns:
        return PointStore.time_filter(start, end)
    return F.expr(f"ts >= {start} AND ts < {end}")


def restrict_to_metrics(points: DataFrame, metrics: DataFrame) -> DataFrame:
    """Keep points of the matched metrics (broadcast left-semi join)."""
    return points.join(F.broadcast(metrics.select("name")), "name", "left_semi")


def aggregator_of(metrics: list[tuple[str, str]]) -> Column:
    """Each resolved name's aggregator as an expression of ``name``: one
    literal when the names share an aggregator (it folds away at planning),
    else a CASE over one hashed IN set per aggregator."""
    by_agg: dict[str, list[str]] = {}
    for name, agg in metrics:
        by_agg.setdefault(agg, []).append(name)
    if len(by_agg) <= 1:
        return F.lit(next(iter(by_agg), "average"))
    expr = None
    for agg, names in sorted(by_agg.items()):
        hit = F.col("name").isin(names)
        expr = F.when(hit, F.lit(agg)) if expr is None else expr.when(hit, F.lit(agg))
    return expr


def regroup(sliced: DataFrame, target: Stage, aggregated: bool = True,
            source_is_raw: bool = False) -> DataFrame:
    """Regroup time-sliced rows (name, ts, value, aggregator[, count]) into
    target-stage buckets.

    ``aggregated=True`` returns final scalars (accessor ``aggregated=True``,
    accessor.py:203-236); ``False`` returns merged partials (value, count) —
    the reference's merge mode used when copying between retentions.  Raw
    rows (``source_is_raw``) count one point each.
    """
    # dataset-bound references (sliced[...]), NOT F.col: a stage table built
    # by joining the SAME catalog object that the batch shape's `metrics`
    # derives from makes a by-name `aggregator` ambiguous under the
    # analyzer's self-join dedup — binding to `sliced` pins every reference
    count_col = None if source_is_raw else sliced["count"]
    # aggregator joins the grouping key (functionally dependent on name, so
    # the groups are unchanged) instead of riding a first() aggregate: a
    # string agg buffer would demote the regroup to SortAggregate — see
    # downsample_stage0
    agg = sliced["aggregator"]
    grouped = sliced.groupBy(
        sliced["name"],
        agg.alias("aggregator"),
        bucket_col(sliced["ts"], target.precision).alias("ts"),
    )
    if aggregated:
        return grouped.agg(
            final_value_expr(agg, sliced["value"], count_col if count_col is not None else F.lit(1), sliced["ts"]).alias("value")
        ).select("name", "ts", "value")
    return grouped.agg(
        partial_value_expr(agg, sliced["value"], sliced["ts"]).alias("value"),
        partial_count_expr(sliced["value"], count_col).alias("count"),
    ).select("name", "ts", "value", "count")


def fetch_named(
    points: DataFrame,
    metrics: list[tuple[str, str]],
    start: int,
    end: int,
    target: Stage,
    aggregated: bool = True,
    source_is_raw: bool = False,
    dense: bool = False,
) -> DataFrame:
    """Fetch + regroup one window for a resolved ``(name, aggregator)``
    list: one filtered scan, one exchange on ``name``, no join.

    Sparse by default: one row per non-empty bucket.  ``dense=True`` unions
    the :func:`..gapfill.grid` rows of the listed names before the exchange,
    so every bucket of ``[start, end)`` of every listed name comes out —
    null where no point landed, as the graphite functions expect.
    """
    names = [n for n, _ in metrics]
    sliced = points.filter(_time_cond(points, start, end) & F.col("name").isin(names))
    if dense:
        sliced = sliced.unionByName(
            grid(points.sparkSession, names, start, end, target.precision),
            allowMissingColumns=True,
        )
    # the regroup reads only name/ts/value[/count]: column pruning keeps
    # every other stored column out of the exchange
    sliced = sliced.repartition("name").withColumn("aggregator", aggregator_of(metrics))
    return regroup(sliced, target, aggregated, source_is_raw)


def fetch_points(
    points: DataFrame,
    metrics: DataFrame,
    start: int,
    end: int,
    target: Stage,
    aggregated: bool = True,
    source_is_raw: bool = False,
) -> DataFrame:
    """Fetch + regroup one window into target-stage buckets, for a matched
    metric DataFrame (the batch shape; serving reads use
    :func:`fetch_named`).

    ``points``: a stage table — raw (name, ts, value) when ``source_is_raw``
    else aggregated partials (name, ts, value, count, aggregator).
    ``metrics``: matched catalog rows (must carry ``aggregator``).
    """
    sliced = restrict_to_metrics(time_slice(points, start, end), metrics)
    if source_is_raw:
        sliced = sliced.join(F.broadcast(metrics.select("name", "aggregator")), "name")
    return regroup(sliced, target, aggregated, source_is_raw)
